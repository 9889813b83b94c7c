package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml._

/** Command-line entrypoint — the reference ships a click CLI
  * (`cli/cli.py::build/serve/client`, public repo; mount empty,
  * SURVEY.md §0) as a user's first touch-point; this is its parity
  * surface over the same lifecycle objects the specs drive:
  *
  *   build  <config.(yaml|yml|json)> <long-parquet> <outDir>
  *       Fleet (or single-machine) config → [[ml.WorkflowGenerator
  *       .buildFleet]] over the long-format (tag, ts, value) parquet →
  *       per-machine artifacts + fleet.json manifest under outDir.
  *       A single-machine config (no "machines" key) is wrapped into a
  *       one-machine fleet, so both document shapes build.
  *   serve  <machineDir> [port]
  *       Load the persisted model under a build artifact dir (metadata
  *       .json routes the model type) and start [[ml.PredictionServer]]
  *       on loopback. Prints the bound port; blocks until killed.
  *   client <baseUrl> <long-parquet> <fromTs> <toTs> [outPath]
  *       Bulk predict over a time range — fetch /metadata for the tag
  *       list, align the long frame to model resolution, POST batched
  *       JSON records to /prediction, write the concatenated responses
  *       as JSONL. The data plane stays in Spark until the (bounded,
  *       range-filtered) batch collect.
  *
  * Exit codes: 0 success, 1 usage/config error, 2 fleet had failed
  * machines (the manifest still records the successes — Argo-step
  * semantics, a broken machine must not sink the fleet).
  */
object Main {

  private def usage(): Nothing = {
    System.err.println(
      """usage:
        |  graft.Main build  <config.(yaml|yml|json)> <long-parquet> <outDir>
        |  graft.Main serve  <machineDir> [port]
        |  graft.Main client <baseUrl> <long-parquet> <fromTs> <toTs> [outPath]
        |
        |long-parquet: long-format table with (tag, ts, value) columns
        |fromTs/toTs : ISO timestamps, e.g. 2024-01-01T00:00:00""".stripMargin)
    sys.exit(1)
  }

  private def session(): SparkSession = Sessions.local()

  def main(args: Array[String]): Unit = args.toList match {
    case "build" :: config :: data :: outDir :: Nil => build(config, data, outDir)
    case "serve" :: machineDir :: rest if rest.length <= 1 =>
      // a non-numeric port is a usage error, not a stack trace
      val port = rest.headOption.map(p =>
        p.toIntOption.getOrElse(usage())).getOrElse(0)
      serve(machineDir, port, block = true)
    case "client" :: baseUrl :: data :: fromTs :: toTs :: rest if rest.length <= 1 =>
      client(baseUrl, data, fromTs, toTs, rest.headOption)
    case _ => usage()
  }

  /** `build`: YAML/JSON config → fleet build → manifest. Factored for the
    * end-to-end spec; returns the fleet result.
    */
  def build(configPath: String, dataPath: String,
      outDir: String): WorkflowGenerator.FleetResult = {
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(configPath))
    val json =
      if (configPath.endsWith(".yaml") || configPath.endsWith(".yml"))
        YamlConfig.toJson(text)
      else text
    // single-machine documents wrap into a one-machine fleet: the CLI
    // builds both shapes through the identical normalize/merge path.
    // Detection is a PARSED top-level key check — substring sniffing
    // would misroute a single-machine config that merely mentions
    // "machines" (e.g. as a tag name) to the fleet path
    val fleetJson = org.json4s.jackson.JsonMethods.parse(json) \ "machines" match {
      case org.json4s.JNothing => s"""{"machines": [$json]}"""
      case _ => json
    }
    val spark = session()
    val long = spark.read.parquet(dataPath)
    val result = WorkflowGenerator.buildFleet(spark, fleetJson, long, outDir)
    result.built.foreach(a => println(s"built  ${a.name} (${a.modelType}) -> ${a.path}"))
    result.failed.foreach { case (n, e) => System.err.println(s"FAILED $n: ${e.getMessage}") }
    println(s"manifest ${result.manifestPath}")
    if (result.failed.nonEmpty) sys.exit(2)
    result
  }

  /** The artifact's resolution (metadata.json), for serving /metadata —
    * absent in pre-resolution artifacts, so default-fall-back.
    */
  def loadResolution(machineDir: String): String = {
    import org.json4s.DefaultFormats
    implicit val fmts: org.json4s.Formats = DefaultFormats
    val metaPath = java.nio.file.Paths.get(machineDir, "metadata.json")
    (org.json4s.jackson.JsonMethods.parse(
      java.nio.file.Files.readString(metaPath)) \ "resolution")
      .extractOpt[String].getOrElse("10 minutes")
  }

  /** Load the servable model persisted under a build artifact dir with
    * the loader of the kind metadata.json's `model.type` names — the
    * serve-side half of the builder registry contract. Forecast artifacts
    * are rejected with a clear message (they serve forecasts, not anomaly
    * requests).
    */
  def loadScorer(spark: SparkSession, machineDir: String): (TagAnomalyScorer, Seq[String]) = {
    val metaPath = java.nio.file.Paths.get(machineDir, "metadata.json")
    require(java.nio.file.Files.isReadable(metaPath),
      s"no metadata.json under $machineDir — not a build artifact dir")
    val meta = org.json4s.jackson.JsonMethods.parse(
      java.nio.file.Files.readString(metaPath))
    import org.json4s.DefaultFormats
    implicit val fmts: org.json4s.Formats = DefaultFormats
    val tags = (meta \ "tags").extract[Seq[String]]
    val mtype = (meta \ "model" \ "type").extract[String]
    val scorer = ModelBuilder.kinds.get(mtype)
      .flatMap(_.scorer(spark, java.nio.file.Paths.get(machineDir)))
      .getOrElse(throw new IllegalArgumentException(
        s"model.type '$mtype' is not servable on the prediction endpoint"))
    (scorer, tags)
  }

  /** `serve`: start the prediction server on a built artifact. Returns
    * the running server (the spec drives it; the CLI blocks).
    */
  def serve(machineDir: String, port: Int, block: Boolean): PredictionServer = {
    val spark = session()
    val (scorer, tags) = loadScorer(spark, machineDir)
    val registry = Option(java.nio.file.Paths.get(machineDir).getParent)
      .map(_.resolve("registry"))
      .filter(java.nio.file.Files.isDirectory(_))
      .map(p => DiskRegistry(p.toString))
    val server = new PredictionServer(spark, scorer, tags,
      port = port, registry = registry,
      resolution = loadResolution(machineDir)).start()
    println(s"serving ${tags.mkString(",")} on http://127.0.0.1:${server.boundPort}")
    if (block) Thread.currentThread().join()
    server
  }

  /** `client`: bulk-predict a time range against a running server.
    * Returns the number of scored rows (spec hook).
    */
  def client(baseUrl: String, dataPath: String, fromTs: String, toTs: String,
      outPath: Option[String], batchSize: Int = 500): Long = {
    val spark = session()
    // tags AND resolution come from the server — the client must score
    // what the model was fitted on, at the granularity it was fitted at,
    // not what the local file happens to contain or a hardcoded default
    val meta = new String(
      java.net.URI.create(s"$baseUrl/metadata").toURL.openStream().readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    import org.json4s.DefaultFormats
    implicit val fmts: org.json4s.Formats = DefaultFormats
    val parsedMeta = org.json4s.jackson.JsonMethods.parse(meta)
    val tags = (parsedMeta \ "tags").extract[Seq[String]]
    val resolution = (parsedMeta \ "resolution").extractOpt[String]
      .getOrElse("10 minutes")

    val long = spark.read.parquet(dataPath)
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf(fromTs.replace('T', ' '))) &&
        col("ts") < lit(java.sql.Timestamp.valueOf(toTs.replace('T', ' '))))
    val wide = graft.ops.Timeseries.align(long, "ts", "tag", "value", tags, resolution)
      .orderBy("bucket")
    // the range-filtered, resampled request set is client-sized by
    // construction (the server scores it row-per-record anyway)
    val rows = wide.select((col("bucket").cast("string").as("ts")) +: tags.map(col): _*)
      .toJSON.collect()

    val responses = rows.grouped(batchSize).map { batch =>
      val payload = batch.mkString("[", ",", "]")
      val conn = java.net.URI.create(s"$baseUrl/prediction").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
      val code = conn.getResponseCode
      // getErrorStream is null when an error response has no body — the
      // require below must report the status, not mask it with an NPE
      val is = if (code < 400) conn.getInputStream
        else Option(conn.getErrorStream)
          .getOrElse(java.io.InputStream.nullInputStream())
      val text = try new String(is.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally is.close()
      require(code == 200, s"prediction request failed ($code): $text")
      text
    }.toSeq

    outPath.foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        responses.mkString("", "\n", "\n"))
    }
    val n = rows.length.toLong
    println(s"scored $n rows in ${responses.length} batches" +
      outPath.fold("")(p => s" -> $p"))
    n
  }
}
