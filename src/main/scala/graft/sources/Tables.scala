package graft.sources

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.graft.Bridge

import graft.Artifacts.tableFingerprint

/** The one resolver behind every parquet source read: each table path is
  * resolved ONCE per session, the way a metastore serves a table.
  *
  * `spark.read.parquet(path)` without a schema lists the path, reads a
  * footer and runs one schema-inference Spark job before the caller's own
  * plan is built. [[resolve]] pays that once per `(session, path)` and
  * keeps the analyzed relation — schema plus file listing, never rows.
  * Every later call re-checks the path's [[graft.Artifacts.tableFingerprint]]
  * (one `listStatus`, no job): a rewritten path re-resolves, so the next
  * read sees the new schema and data. Each hit is a fresh `DataFrame`
  * over `newInstance()` of the relation — fresh attribute ids, so two
  * reads of one path self-join exactly as two plain reads do.
  *
  * Scope: entries are keyed by the session object, so a relation resolved
  * in one session is never handed to another; at most [[MaxEntries]] are
  * kept (least recently used evicted first), and a stopped context's
  * entries are dropped when it ends, so the cache pins no stopped session.
  */
object Tables {

  private val MaxEntries = 64

  private final case class Key(session: SparkSession, path: String)
  private final case class Entry(fingerprint: String, relation: MultiInstanceRelation)

  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      size() > MaxEntries
  }

  // contexts already listened to for their end (weak: never pins one)
  private val watched = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  /** The parquet table at `path` as a new `DataFrame` of session `s`. */
  def resolve(s: SparkSession, path: String): DataFrame = {
    val key = Key(s, path)
    val fp = tableFingerprint(s, path)
    entries.synchronized(Option(entries.get(key))).filter(_.fingerprint == fp) match {
      case Some(e) => Bridge.ofRows(s, e.relation.newInstance())
      case None =>
        val df = s.read.parquet(path)
        df.queryExecution.analyzed match {
          case r: MultiInstanceRelation => remember(key, Entry(fp, r))
          case _ => ()
        }
        df
    }
  }

  private def remember(key: Key, e: Entry): Unit = {
    val sc = key.session.sparkContext
    entries.synchronized {
      if (watched.add(sc)) sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          entries.synchronized(entries.keySet.removeIf(_.session.sparkContext eq sc))
      })
      entries.put(key, e)
    }
  }
}
