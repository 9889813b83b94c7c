package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** A shingle index of `corpus` built onto a fresh temp dir — the one
    * build every set-overlap serve reads.
    */
  private def indexOf(corpus: org.apache.spark.sql.DataFrame, shingleN: Int = 3,
      maxDocFreq: Int = Dedup.DefaultMaxDocFreq): Dedup.ShingleIndex =
    Dedup.buildAndSaveShingleIndex(corpus, "doc_id", "text",
      java.nio.file.Files.createTempDirectory("shidx").toString, shingleN, maxDocFreq)

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"), // case dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
    (4L, "completely different words entirely here now today"),
    (5L, "ab") // shorter than one shingle
  ).toDF("doc_id", "text")

  test("exact dedup groups case-normalized duplicates under the min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .orderBy("canonical_id").collect()
    assert(out.length == 4)
    assert(out(0).getAs[Long]("canonical_id") == 1L)
    assert(out(0).getAs[Long]("n_members") == 2L)
  }

  test("shingles produces word 3-grams and is empty for short docs") {
    val sh = docs.select(col("doc_id"), Dedup.shingles(Dedup.words(col("text"))).as("sh"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1)).toMap
    assert(sh(1L).head == "the quick brown")
    assert(sh(1L).length == 7) // 9 words -> 7 shingles
    assert(sh(5L).isEmpty)
  }

  test("minhash LSH finds the case dup and the near dup, not the unrelated doc") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash: identical normalized docs share a signature; hamming small for near dups") {
    val sig = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L)) // case-insensitive tokens identical
    val hamming = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
    assert(hamming <= 15, s"near-dup hamming was $hamming")
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(4L)) > hamming)
  }

  test("nearDuplicates (LSH -> exact re-score) agrees with all-pairs jaccard on its candidates") {
    val viaLsh = Dedup.nearDuplicates(docs, "doc_id", "text", 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = Dedup.ngramJaccardPairsFromIndex(indexOf(docs), 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // no false positives, identical scores on recovered pairs
    viaLsh.foreach { case (pair, j) => assert(exact(pair) == j) }
    assert(viaLsh.contains((1L, 2L)))
  }

  test("decontaminationMatches flags benchmark overlap and only that") {
    import spark.implicits._
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "seven silver ships sail silently southward tonight")
    ).toDF("bench_id", "text")
    val corpus = Seq(
      // contains bench 100's text verbatim inside a longer doc
      (1L, "as they say the quick brown fox jumps over the lazy dog indeed"),
      // shares a 3-word prefix only — under a 5-gram scan that is zero shared
      (2L, "the quick brown bear sleeps under the old oak tree"),
      (3L, "nothing in common with either benchmark document at all")
    ).toDF("doc_id", "text")
    val m = Dedup.decontaminationMatches(corpus, "doc_id", "text",
        bench, "bench_id", "text", shingleN = 5, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1 embeds bench 100's 9 words -> five shared 5-grams; nothing else
    assert(m == Set((1L, 100L, 5L)), s"matches=$m")
    // minShared gates the weak matches out
    val strict = Dedup.decontaminationMatches(corpus, "doc_id", "text",
        bench, "bench_id", "text", shingleN = 5, minShared = 6)
    assert(strict.isEmpty)
  }

  test("incrementalStepExact: rebuild parity when a shingle crosses the df cap only in the union") {
    import spark.implicits._
    // bigram cap 3; "terms apply" occurs 3× in batch A (at the cap, kept)
    // and 2× more in batch B — hot ONLY in the union. The per-batch-cap
    // path would never drop it from A's persisted bands; the exact path
    // must re-band exactly docs 10/11/12 and land on the full-rebuild state.
    val cap = 3; val n = 2; val k = 8; val bands = 4; val thr = 0.2
    val batchA = Seq(
      (10L, "terms apply please read now"),
      (11L, "terms apply whenever possible ok"),
      (12L, "terms apply to everything here"),
      (13L, "alpha beta gamma delta epsilon"),
      (14L, "alpha beta gamma delta zeta"),
      (15L, "unrelated content entirely different")
    ).toDF("doc_id", "text")
    val batchB = Seq(
      (16L, "alpha beta gamma delta eta"),
      (17L, "terms apply and terms apply")
    ).toDF("doc_id", "text")
    val all = batchA.unionByName(batchB)

    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def bandSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet

    val full = pairSet(Dedup.nearDuplicatesExact(all, "doc_id", "text", thr,
      k, bands, n, cap))
    val pairsA = pairSet(Dedup.nearDuplicatesExact(batchA, "doc_id", "text", thr,
      k, bands, n, cap))
    val s0 = Dedup.initialDedupState(batchA, "doc_id", "text", k, bands, n, cap)
    val r = Dedup.incrementalStepExact(all, s0, batchB, "doc_id", "text", thr,
      k, bands, n, cap)

    // the newly-hot shingle pulls exactly the existing docs containing it
    // into the changed set, alongside the whole new batch
    val changed = r.changedIds.collect().map(_.getLong(0)).toSet
    assert(changed == Set(10L, 11L, 12L, 16L, 17L), s"changed=$changed")

    // no-drift invariant: post-step state == a from-scratch build
    val rebuiltStats = Dedup.shingleStats(all, "doc_id", "text", n)
      .collect().map(r2 => r2.getString(0) -> r2.getLong(1)).toMap
    val stepStats = r.state.stats
      .collect().map(r2 => r2.getString(0) -> r2.getLong(1)).toMap
    assert(stepStats == rebuiltStats)
    val rebuiltBands = bandSet(Dedup.bandTableWithHotList(all, "doc_id", "text",
      Dedup.hotList(Dedup.shingleStats(all, "doc_id", "text", n), cap), k, bands, n))
    assert(bandSet(r.state.bands) == rebuiltBands)
    // ...and differs from what the per-batch-cap union would keep (docs
    // 10-12's stale bands still contain the now-hot shingle) — the drift
    // this machinery exists to prevent
    val stalePath = bandSet(s0.bands.unionByName(
      Dedup.bandTable(batchB, "doc_id", "text", k, bands, n, cap)))
    assert(bandSet(r.state.bands) != stalePath)

    // pair accumulation rule: previous pairs with both endpoints unchanged
    // ∪ step pairs == full rebuild
    val kept = pairsA.filterNot { case (a, b, _) => changed(a) || changed(b) }
    assert(kept.union(pairSet(r.pairs)) == full,
      s"kept=$kept step=${pairSet(r.pairs)} full=$full")

    // the no-newly-hot common case touches nothing: a second step whose
    // batch adds no hot crossings changes only the new doc's own bands
    val batchC = Seq((18L, "totally fresh words never seen")).toDF("doc_id", "text")
    val all2 = all.unionByName(batchC)
    val r2 = Dedup.incrementalStepExact(all2, r.state, batchC, "doc_id", "text",
      thr, k, bands, n, cap)
    assert(r2.changedIds.collect().map(_.getLong(0)).toSet == Set(18L))
  }

  test("duplicateClustersTwoPhase equals duplicateClusters on every shape") {
    import spark.implicits._
    // chains (deep diameter), a star, singles-by-absence, and a
    // component split across many partitions — the two-phase result must
    // be indistinguishable from the reference implementation's
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // chain
      (10L, 11L), (10L, 12L), (10L, 13L), // star
      (20L, 21L), // pair
      (30L, 31L), (31L, 32L), (32L, 30L) // triangle
    ) ++ (0 until 40).map(i => (100L + i, 101L + i)) // long chain
    val pairs = edges.toDF("doc_a", "doc_b").repartition(13)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ref = m(Dedup.duplicateClusters(pairs, maxIter = 64))
    val two = m(Dedup.duplicateClustersTwoPhase(pairs, maxIter = 64))
    assert(two == ref)
    // empty edge set: empty result, no exception
    assert(Dedup.duplicateClustersTwoPhase(pairs.limit(0)).count() == 0)
  }

  test("duplicateClusters assigns every node the component-min canonical id") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {7,9}, isolated pair {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 9L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 9L -> 7L, 20L -> 20L, 21L -> 20L))
    // a long chain still converges (min travels one hop per round)
    val chain = (1L to 15L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("doc_a", "doc_b")
    val chainOut = Dedup.duplicateClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainOut.values.forall(_ == 1L))
  }

  test("maxDocFreq drops corpus-boilerplate shingles before pair generation") {
    import spark.implicits._
    // "x y z" appears in every doc (df=4) + each doc has a unique tail
    val boiler = Seq(
      (1L, "x y z a1 b1 c1"), (2L, "x y z a2 b2 c2"),
      (3L, "x y z a3 b3 c3"), (4L, "x y z a4 b4 c4")).toDF("doc_id", "text")
    // the cap-3 hot list holds exactly the boilerplate shingle
    val hot = Dedup.hotList(Dedup.shingleStats(boiler, "doc_id", "text"), 3)
    assert(hot.as[String].collect().toSeq == Seq("x y z"))
    // with the hot shingle capped, the only shared shingle is gone -> no pairs
    assert(Dedup.ngramJaccardPairsFromIndex(indexOf(boiler, maxDocFreq = 3), 0.1).isEmpty)
    // uncapped, every pair shares "x y z"
    assert(!Dedup.ngramJaccardPairsFromIndex(indexOf(boiler), 0.1).isEmpty)
  }

  test("duplicateClusters works with string doc ids (lexicographic min label)") {
    import spark.implicits._
    val pairs = Seq(("docB", "docA"), ("docB", "docC"), ("z1", "z2"))
      .toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("docA" -> "docA", "docB" -> "docA", "docC" -> "docA",
      "z1" -> "z1", "z2" -> "z1"))
  }

  test("the DEFAULT df cap is finite and engages without being asked for") {
    import spark.implicits._
    assert(Dedup.DefaultMaxDocFreq < Int.MaxValue)
    // one boilerplate shingle shared by cap+1 docs: the default-capped run
    // must refuse to explode it into ~cap²/2 pairs
    val n = Dedup.DefaultMaxDocFreq + 1
    val boiler = (1 to n).map(i => (i.toLong, "x y z")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairsFromIndex(indexOf(boiler), 0.1).isEmpty)
    assert(Dedup.bandTable(boiler, "doc_id", "text").isEmpty)
    // and the explicit opt-out still explodes
    assert(!Dedup.ngramJaccardPairsFromIndex(
      indexOf(boiler, maxDocFreq = Int.MaxValue), 0.1).isEmpty)
  }

  test("ngram jaccard scores the near dup high and excludes disjoint docs") {
    val out = Dedup.ngramJaccardPairsFromIndex(indexOf(docs), 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out.contains((1L, 3L)))
    assert(out((1L, 3L)) > 0.3 && out((1L, 3L)) < 1.0)
    assert(!out.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("containmentPairs flags the subset duplicate Jaccard misses") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon"
    val long = short + " zeta eta theta iota kappa lambda mu nu xi omicron " +
      "pi rho sigma tau upsilon phi chi psi omega one two"
    val corpus = Seq((1L, short), (2L, long), (3L, "totally different words here"))
      .toDF("doc_id", "text")
    // doc 1's shingles all appear in doc 2 -> containment 1.0 for A
    val idx = indexOf(corpus)
    val cont = Dedup.containmentPairsFromIndex(idx, 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    assert(cont.contains((1L, 2L)))
    assert(cont((1L, 2L))._1 == 1.0) // A fully inside B
    assert(cont((1L, 2L))._2 < 0.5)  // B mostly NOT inside A
    // ... while Jaccard at the same confidence bar misses the pair
    val jac = Dedup.ngramJaccardPairsFromIndex(idx, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)))
    // disjoint docs never pair either way
    assert(!cont.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("fuzzyPairs matches within blocks by edit distance, never across") {
    import spark.implicits._
    val people = Seq(
      (1L, "smith, john"), (2L, "smith, jon"),   // dist 1, same block 's'
      (3L, "smyth, john"),                       // dist 1 from #1, block 's'
      (4L, "jones, mary"), (5L, "jones, marie"), // dist 2, block 'j'
      (6L, "smith, john")                        // exact dup of #1, block 's'
    ).toDF("id", "name")
    val blk = org.apache.spark.sql.functions.substring(
      org.apache.spark.sql.functions.col("name"), 1, 1)
    val out = Dedup.fuzzyPairs(people, "id", "name", blk, maxDist = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4))).toMap
    assert(out((1L, 2L)) == 1L && out((1L, 3L)) == 1L && out((1L, 6L)) == 0L)
    assert(out((4L, 5L)) == 2L)
    // 2-3: "smith, jon" vs "smyth, john" = 2 edits -> present at maxDist 2
    assert(out.contains((2L, 3L)))
    // nothing pairs across the s/j blocks even when distance would allow it
    assert(!out.keys.exists { case (a, b) => Set(a, b) == Set(1L, 4L) })
    // tighter cap drops the dist-2 pairs
    val tight = Dedup.fuzzyPairs(people, "id", "name", blk, maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight == Set((1L, 2L), (1L, 3L), (1L, 6L), (2L, 6L), (3L, 6L)))
  }

  test("bloom-pruned exact matches equal the plain semi-join at ANY sketch size") {
    val base = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
      (3L, "eta theta iota")).toDF("doc_id", "text")
    val delta = Seq((10L, "alpha beta gamma"), // exact dup of 1
      (11L, "eta theta iota"),                 // exact dup of 3
      (12L, "totally novel content here"),
      (13L, "ALPHA BETA GAMMA")                // case-mutated: NOT exact
    ).toDF("doc_id", "text")
    val expected = Set(10L, 11L)
    // generous sketch: near-zero FPP — candidates ≈ true dups
    val wide = Dedup.bloomPrunedExactMatches(base, delta, "text",
      expectedItems = 100L, numBits = 4096L)
      .select("doc_id").as[Long].collect().toSet
    assert(wide == expected)
    // pathologically tiny sketch: FPP near 1, every delta row a candidate
    // — the exact confirm step must still produce the identical output
    val tiny = Dedup.bloomPrunedExactMatches(base, delta, "text",
      expectedItems = 1L, numBits = 8L)
      .select("doc_id").as[Long].collect().toSet
    assert(tiny == expected, s"FP survived the exact confirm: $tiny")
    // empty base: no sketch to build, no matches — and no NPE
    assert(Dedup.bloomPrunedExactMatches(base.limit(0), delta, "text")
      .count() == 0)
  }

  test("ShingleIndex: merge equals full rebuild, including cap and df 1->2 crossings") {
    import org.apache.spark.sql.Row
    // bigram cap 3; "terms apply" is AT the cap in batch A and crosses it
    // only in the union — the merge must null the member list, keep
    // counting df, and rebuild exactly docs 10/11/12 (+ the delta)
    val cap = 3; val n = 2
    val batchA = Seq(
      (10L, "terms apply please read now"),
      (11L, "terms apply whenever possible ok"),
      (12L, "terms apply to everything here"),
      (13L, "alpha beta gamma delta epsilon"),
      (14L, "alpha beta gamma delta zeta"),
      (15L, "unrelated content entirely different")
    ).toDF("doc_id", "text")
    val batchB = Seq(
      (16L, "alpha beta gamma delta eta"),
      (17L, "terms apply and terms apply"),
      // GROW-crossing: doc 15's bigrams are all df = 1 in batch A (so
      // its stored ts is EMPTY under the df ≥ 2 layout); doc 18 takes
      // three of them to df = 2. Without the grow rebuild, doc 15's
      // prefix stays empty and the (15, 18) pair — doc 15 is the
      // SMALLER side (n 3 < 4), so only its prefix can generate it —
      // silently vanishes from the served pairs.
      (18L, "unrelated content entirely different stuff")
    ).toDF("doc_id", "text")
    val all = batchA.unionByName(batchB)

    val full = indexOf(all, n, cap)
    val merged = Dedup.mergeShingleIndex(indexOf(batchA, n, cap),
      batchB, "doc_id", "text", n, cap)
    // the same rebuilt index served by the prefix filter instead of its
    // pair state: the reference for every served result below
    val prefixOnly = full.copy(pairs = None)

    // shingle statistics: identical (s, df, member-set) rows — df keeps
    // counting past the cap, the list nulls exactly when df > cap
    def groupSet(g: org.apache.spark.sql.DataFrame) =
      g.collect().map(r => (r.getLong(0), r.getInt(1),
        Option(r.getSeq[Long](2)).map(_.toSet))).toSet
    assert(groupSet(merged.groups) == groupSet(full.groups))

    // per-doc capped sets: membership identical everywhere; REBUILT rows
    // (delta 16/17/18, cap-crossed 10/11/12, grow-crossed 15) carry
    // fresh df and must equal the full rebuild struct for struct
    def docMap(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "ts", "n").collect().map(r => r.getLong(0) ->
        (r.getSeq[Row](1).map(x => (x.getInt(0), x.getLong(1))), r.getInt(2))).toMap
    val fm = docMap(full.docs); val mm = docMap(merged.docs)
    assert(fm.keySet == mm.keySet)
    for (k <- fm.keySet) {
      assert(fm(k)._1.map(_._2).toSet == mm(k)._1.map(_._2).toSet,
        s"doc $k membership")
      assert(fm(k)._2 == mm(k)._2, s"doc $k full capped size n")
    }
    for (k <- Set(10L, 11L, 12L, 15L, 16L, 17L, 18L))
      assert(fm(k) == mm(k), s"rebuilt doc $k must carry fresh df order")
    // the df ≥ 2 layout contract: ts never stores a singleton, n counts
    // the FULL capped universe. doc 13 "alpha beta gamma delta epsilon":
    // 4 capped bigrams, "delta epsilon" df = 1 excluded from ts; doc 17:
    // "terms apply" over cap (df 4 > 3), both remaining bigrams df = 1
    // → n = 2, ts empty; doc 15: all three stored bigrams grew to df = 2.
    for ((_, (ts, _)) <- fm) assert(ts.forall { case (df, _) => df >= 2 })
    assert(fm(13L)._1.size == 3 && fm(13L)._2 == 4)
    assert(fm(17L)._1.isEmpty && fm(17L)._2 == 2)
    assert(fm(15L)._1.size == 3 && fm(15L)._2 == 3)

    // round 14 — PAIR STATE rides the merge: the incremental
    // delta-mention algebra (new×old + C(new,2) adds for under-cap
    // updated groups, C(df_old,2) removals for cap-CROSSED groups — the
    // batch has both, plus the df 1→2 grow case) must land on exactly
    // the pair rows a from-scratch rebuild computes.
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged.pairs.isDefined && full.pairs.isDefined)
    assert(pset(merged.pairs.get) == pset(full.pairs.get),
      "merged pair state must equal the rebuilt iCounts")
    assert(pset(full.pairs.get) == pset(Dedup.mentionPairCountsByDocA(full.groups)))

    // serving the merged pair state ≡ serving the rebuilt one, row for
    // row (the contract callers consume — both post the same
    // conservative bounds)
    def rowset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    for (frac <- Seq(0.3, 0.75)) {
      val t = math.floor(frac * 1e6).toLong
      assert(rowset(Dedup.pairStateIntersections(merged, t, 0.0)) ==
        rowset(Dedup.pairStateIntersections(full, t, 0.0)),
        s"pair-state serve drift at frac=$frac")
    }

    // served results: indistinguishable from the prefix serve of the
    // full rebuild (the drift this state machinery exists to prevent)
    def cpairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSet
    def jpairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cpairs(Dedup.containmentPairsFromIndex(merged, 0.5)) ==
      cpairs(Dedup.containmentPairsFromIndex(prefixOnly, 0.5)))
    assert(jpairs(Dedup.ngramJaccardPairsFromIndex(merged, 0.3)) ==
      jpairs(Dedup.ngramJaccardPairsFromIndex(prefixOnly, 0.3)))

    // persistence round-trip: save, load, serve — identical pairs
    val dir = java.nio.file.Files.createTempDirectory("shidx").toString
    Dedup.saveShingleIndex(merged, dir)
    assert(Dedup.shingleIndexExists(spark, dir))
    val loaded = Dedup.loadShingleIndex(spark, dir)
    // v3 artifact: meta + pairs persist and reload — meta holds the
    // rebuild's stats, and the loaded index serves from state with zero
    // per-serve aggregation
    val meta = spark.read.parquet(s"$dir/meta").head()
    assert(Dedup.ShingleStats(meta.getAs[Long]("mentions"),
      meta.getAs[Long]("memberships")) == Dedup.computeShingleStats(full.groups))
    assert(loaded.pairs.isDefined &&
      pset(loaded.pairs.get) == pset(full.pairs.get))
    assert(cpairs(Dedup.containmentPairsFromIndex(loaded, 0.5)) ==
      cpairs(Dedup.containmentPairsFromIndex(prefixOnly, 0.5)))

    // BOTH serves emit the identical qualifying (doc_a, doc_b, i, na, nb)
    // rows under the same conservative bounds: the pair-state scan
    // (ids-only co-membership counts — the third-decade shape) and the
    // prefix-filter + sorted-merge re-score plan (the large-cap
    // fallback). The qualifying-pair contract is what callers consume;
    // compare it exactly under both thresholds used by the public API.
    def iset(df: org.apache.spark.sql.DataFrame, frac: Double) = {
      val t = math.floor(frac * 1e6).toLong
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .filter { case (_, _, i, na, nb) =>
          1000000L * i >= t * math.min(na, nb) } // qualifying pairs only
        .toSet
    }
    for (frac <- Seq(0.3, 0.5, 0.75, 1.0)) {
      val t = math.floor(frac * 1e6).toLong
      assert(iset(Dedup.pairStateIntersections(full, t, 0.0), frac) ==
        iset(Dedup.prefixIntersections(full, t, 0.0), frac),
        s"strategy drift at frac=$frac")
    }
  }

  test("ShingleIndex merge pairs no doc with itself when a delta repeats a base id") {
    val cap = 3; val n = 2
    val base = Seq((10L, "alpha beta gamma delta"),
      (11L, "alpha beta gamma zeta")).toDF("doc_id", "text")
    // doc 10 arrives again: every merged member array of its shingles
    // holds id 10 twice, once from the base and once from the delta
    val delta = Seq((10L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val merged = Dedup.mergeShingleIndex(indexOf(base, n, cap),
      delta, "doc_id", "text", n, cap)
    val pairs = merged.pairs.get
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.forall { case (a, b) => a != b }, s"self-pair in $pairs")
    assert(pairs.contains((10L, 11L)))
  }

  test("shingleIndexExists needs both meta and docs committed, for either writer ordering") {
    val dir = java.nio.file.Files.createTempDirectory("shidx-gate").toString
    Dedup.buildAndSaveShingleIndex(docs, "doc_id", "text", dir, 3, 20)
    assert(Dedup.shingleIndexExists(spark, dir))
    for (part <- Seq("docs", "meta")) {
      val marker = java.nio.file.Paths.get(dir, part, "_SUCCESS")
      java.nio.file.Files.delete(marker)
      assert(!Dedup.shingleIndexExists(spark, dir),
        s"an index whose $part/ never committed was reported as existing")
      java.nio.file.Files.createFile(marker)
    }
    assert(Dedup.shingleIndexExists(spark, dir))
  }

  test("a second serve of the same index launches no schema-inference job") {
    val dir = java.nio.file.Files.createTempDirectory("shidx").toString
    val built = Dedup.buildAndSaveShingleIndex(docs, "doc_id", "text", dir)
    assert(built.pairs.nonEmpty, "the toy index should carry pair state")
    Dedup.loadShingleIndex(spark, dir)
    // groups, docs and pairs each resolve to the relation the first
    // serve inferred: no job until a serve runs an action
    assert(jobsDuring("shidx-reserve")(Dedup.loadShingleIndex(spark, dir)) == 0)
    val again = Dedup.loadShingleIndex(spark, dir)
    assert(Dedup.containmentPairsFromIndex(again, 0.7).collect().toSet ==
      Dedup.containmentPairsFromIndex(built, 0.7).collect().toSet)
  }

  test("mentions/prefix crossover guard flips on a hot capped shingle; plans row-identical either side") {
    // One boilerplate bigram shared by every doc, everything else df = 1.
    // With df_hot docs, the df ≥ 2 capped stats are mentions = C(df_hot, 2)
    // and memberships = df_hot, so the 32× guard crosses between
    // df_hot = 60 (1770 ≤ 1920 → mention plan) and df_hot = 100
    // (4950 > 3200 → prefix plan) at cap 200 — the first corpus that
    // actually EXERCISES the ratio switch instead of calling the plans
    // directly (round-13 verdict #7).
    def corpus(nDocs: Int) =
      (0 until nDocs).map(i => (i.toLong, s"alpha beta uniq$i"))
        .toDF("doc_id", "text")
    val cap = 200
    val hot = indexOf(corpus(100), 2, cap)
    val cool = indexOf(corpus(60), 2, cap)
    val hotStats = Dedup.computeShingleStats(hot.groups)
    val coolStats = Dedup.computeShingleStats(cool.groups)
    assert(hotStats == Dedup.ShingleStats(4950L, 100L))
    assert(coolStats == Dedup.ShingleStats(1770L, 60L))
    assert(!Dedup.mentionPlanPreferred(hotStats),
      "hot corpus must pick the prefix plan")
    assert(Dedup.mentionPlanPreferred(coolStats),
      "cool corpus must pick the mention plan")
    // the build's pair-economics guard must DECLINE pair state past the
    // crossover
    assert(hot.pairs.isEmpty, "pair state built past the mention crossover")
    assert(cool.pairs.isDefined)
    // row-identity of the PICKED serve against both explicit serves on
    // both sides of the boundary — the guard may only change cost,
    // never the qualifying pairs (same comparison discipline as above:
    // the contract is the qualifying set)
    def iset(df: org.apache.spark.sql.DataFrame, frac: Double) = {
      val t = math.floor(frac * 1e6).toLong
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .filter { case (_, _, i, na, nb) =>
          1000000L * i >= t * math.min(na, nb) }
        .toSet
    }
    for (idx <- Seq(hot, cool); frac <- Seq(0.3, 0.6)) {
      val t = math.floor(frac * 1e6).toLong
      val picked = iset(Dedup.shingleIntersectionsFromIndex(idx, frac), frac)
      idx.pairs.foreach(_ =>
        assert(picked == iset(Dedup.pairStateIntersections(idx, t, 0.0), frac)))
      assert(picked == iset(Dedup.prefixIntersections(idx, t, 0.0), frac))
    }
    // every pair shares exactly the one hot bigram: i = 1, n = 2 — the
    // hot side's qualifying set at frac 0.3 is all C(100, 2) pairs
    assert(iset(Dedup.shingleIntersectionsFromIndex(hot, 0.3), 0.3).size == 4950)
  }

  test("strategy-pick crossover: a hot capped shingle flips the serve " +
      "to the prefix plan, rows identical either side of the boundary") {
    // The 32×-memberships guard (mentionPlanPreferred) needs a capped
    // shingle with df ≥ ~66 to trip — impossible at the shipped cap of
    // 20, which is why no registry fixture exercises it. Build the
    // crossing corpus directly: 1-word shingles, cap 100, one "hot"
    // word shared by every doc. With h hot docs plus the 3 fixed docs,
    // mentions = C(h + 3, 2) + 1 (the df = 2 "shared" group) and
    // memberships = (h + 3) + 2, so h = 70 ⟹ 2629/75 ≈ 35.1 > 32
    // (prefix side) and h = 60 ⟹ 1954/65 ≈ 30.1 ≤ 32 (mention side).
    def corpus(nHot: Int) =
      ((1 to nHot).map(i => (i.toLong, s"hot u${i}a u${i}b")) ++
        Seq((9001L, "hot"), (9002L, "hot shared xa"), (9003L, "hot shared xb")))
        .toDF("doc_id", "text")
    def build(nHot: Int) = indexOf(corpus(nHot), shingleN = 1, maxDocFreq = 100)
    val over = build(70)
    val under = build(60)
    // the pick itself, on the built groups' stats, and what the build
    // did with it: pair state only on the mention side
    assert(!Dedup.mentionPlanPreferred(Dedup.computeShingleStats(over.groups)))
    assert(Dedup.mentionPlanPreferred(Dedup.computeShingleStats(under.groups)))
    assert(over.pairs.isEmpty && under.pairs.isDefined)
    // row identity against the prefix serve of the same index on BOTH
    // sides of the boundary, at both public thresholds (containment
    // catches the {hot} ⊂ {hot, u, u} subset docs; Jaccard the
    // {hot, shared, x} near-pair)
    def cpairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSet
    def jpairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (idx <- Seq(over, under)) {
      val prefixOnly = idx.copy(pairs = None)
      assert(cpairs(Dedup.containmentPairsFromIndex(idx, 0.3)) ==
        cpairs(Dedup.containmentPairsFromIndex(prefixOnly, 0.3)))
      assert(jpairs(Dedup.ngramJaccardPairsFromIndex(idx, 0.3)) ==
        jpairs(Dedup.ngramJaccardPairsFromIndex(prefixOnly, 0.3)))
    }
    // the subset doc 9001 ({hot}, n = 1) is fully contained in every
    // other doc: cont_a = 1.0 must survive the prefix plan's bounds
    assert(cpairs(Dedup.containmentPairsFromIndex(over, 0.3))
      .exists { case (_, b, _, cb) => b == 9001L && cb == 1.0 })
  }

  test("mentionPairCountsByDocA: identical rows, and agg + write layout share ONE exchange") {
    // (s, df, ds) groups — incl. an over-cap NULL list and a singleton,
    // both of which must contribute no pairs
    val groups = Seq(
      (1L, 3, Option(Seq(1L, 2L, 5L))),
      (2L, 2, Option(Seq(2L, 5L))),
      (3L, 2, Option(Seq(1L, 5L))),
      (4L, 1, Option(Seq(7L))),
      (5L, 9, None: Option[Seq[Long]])
    ).toDF("s", "df", "ds")
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val byA = Dedup.mentionPairCountsByDocA(groups)
      .sortWithinPartitions("doc_a", "doc_b")
    // (1,2) share group 1; (1,5) groups 1 and 3; (2,5) groups 1 and 2
    assert(pset(byA) == Set((1L, 2L, 1L), (1L, 5L, 2L), (2L, 5L, 2L)))
    // the round-15 build-cost contract: hashpartitioning(doc_a) satisfies
    // the (doc_a, doc_b) aggregation's clustering requirement, so the
    // explicit repartition is the ONLY exchange — the r14 write shape
    // paid a second, pair-scale one to regain the doc_a layout after an
    // agg exchange on (doc_a, doc_b)
    val exchanges = byA.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.size
    assert(exchanges == 1, s"pair write carries $exchanges exchanges:\n" +
      byA.queryExecution.sparkPlan.toString.take(2000))
  }

  test("the shipped shingle-index queries serve from their index's pair state") {
    // every shipped index runs cap 20, and a capped df contributes
    // C(df,2) = df·(df−1)/2 ≤ 9.5·df mentions, so the build's crossover
    // writes pair state for any mix of df in 2..20
    for (df <- 2 to 20) {
      val st = Dedup.ShingleStats(df.toLong * (df - 1) / 2, df.toLong)
      assert(Dedup.mentionPlanPreferred(st), s"df $df declines pair state")
    }
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val plans = new AdaptiveSparkPlanHelper {}
    for (q <- Seq("dedup_ngram_jaccard", "dedup_containment", "dedup_containment_incr")) {
      val df = graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      assert(df.collect().nonEmpty, s"$q returned no rows")
      val pairScans = plans.collectWithSubqueries(df.queryExecution.executedPlan) {
        case f: FileSourceScanExec if f.relation.location.rootPaths.exists(p =>
          p.getName == "pairs" && p.getParent.getName.startsWith("shidx")) => f
      }
      assert(pairScans.nonEmpty, s"$q executed no scan of its index's pairs part:\n" +
        df.queryExecution.executedPlan.toString.take(3000))
    }
  }
}
