package graft.ops

import graft.SharedSpark
import graft.functions._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val baseText = "the quick brown fox jumps over the lazy dog and runs through " +
    "the green forest while birds sing in the morning light near the old river bridge"

  private def mutate(text: String, nWords: Int, seed: Int): String = {
    val words = text.split(" ")
    val rnd = new scala.util.Random(seed)
    val idx = rnd.shuffle(words.indices.toList).take(nWords)
    words.zipWithIndex.map { case (w, i) =>
      if (idx.contains(i)) "xx" + rnd.nextInt(100) else w
    }.mkString(" ")
  }

  test("exactByHash keeps one row per identical text, preferring smallest id") {
    val df = Seq(
      (3L, "hello world"), (1L, "hello world"), (2L, "different text"),
      (7L, "hello world"), (5L, "different text"), (9L, "unique one")
    ).toDF("doc_id", "text")
    val out = Dedup.exactByHash(df, "doc_id", "text")
      .orderBy($"doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "hello world"), (2L, "different text"), (9L, "unique one")))
  }

  test("exactByHash contract: rows sharing BOTH id and text all survive (unique-id requirement)") {
    // the documented limitation that motivated exactByContent: a semi join
    // cannot tell identical (id, text) rows apart
    val df = Seq((1L, "same"), (1L, "same"), (2L, "same")).toDF("doc_id", "text")
    assert(Dedup.exactByHash(df, "doc_id", "text").count() == 2)
  }

  test("exactByContent: id-less dedup keeps the lexicographically smallest row, deterministically") {
    val df = Seq(
      ("https://b", "dup text", 7L), ("https://a", "dup text", 9L),
      ("https://a", "dup text", 3L), ("https://z", "other", 1L)
    ).toDF("url", "text", "extra").repartition(5)
    val out = Dedup.exactByContent(df, "text")
      .orderBy($"text").collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(("https://a", "dup text", 3L), ("https://z", "other", 1L)))
    assert(Dedup.exactByContent(df, "text").columns.toSeq == df.columns.toSeq)
    // window/semi-join equivalents would have needed a unique id; this path
    // also dedups true duplicate records
    val dupRecords = Seq((1L, "x"), (1L, "x"), (1L, "x")).toDF("id", "text")
    assert(Dedup.exactByContent(dupRecords, "text").count() == 1)
  }

  test("exactByHash never loses a text whose ids are all null (null-safe election)") {
    val df = Seq(
      (Some(5L), "has id"), (None, "orphan text"), (None, "orphan text"),
      (Some(9L), "has id")
    ).toDF("doc_id", "text")
    val out = Dedup.exactByHash(df, "doc_id", "text")
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1))).toSet
    // the all-null-id group survives (both copies — null ids violate the
    // uniqueness contract, and keeping duplicates beats losing the text);
    // groups with real ids still elect their min
    assert(out == Set((5L, "has id"), (-1L, "orphan text")) ||
      out.contains((-1L, "orphan text")), s"orphan text lost: $out")
    assert(out.contains((5L, "has id")) && !out.contains((9L, "has id")))
  }

  test("exactByHash keeps exactly one row among null texts") {
    val df = Seq((4L, null: String), (2L, null: String), (1L, "real text"))
      .toDF("doc_id", "text")
    val out = Dedup.exactByHash(df, "doc_id", "text")
      .orderBy($"doc_id").collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L, 2L))
  }

  test("exactByHash: no exchange carries the text column (16-byte winner election)") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = (0 until 200)
        .map(i => (i.toLong, s"document body number ${i % 50} with plenty of text"))
        .toDF("doc_id", "text")
      val out = Dedup.exactByHash(df, "doc_id", "text")
      val exchanges = out.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e.child.output.map(_.name)
      }
      assert(exchanges.nonEmpty, "expected at least the winner-election exchange")
      exchanges.foreach { names =>
        assert(!names.exists(_.contains("text")),
          s"an exchange ships the text column: $names\n" +
            out.queryExecution.executedPlan.toString)
      }
      assert(out.count() == 50)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("minhash: identical texts have identical signatures; est jaccard sane") {
    val df = Seq((1L, baseText), (2L, baseText), (3L, mutate(baseText, 14, 42)))
      .toDF("id", "text")
    val sigs = df.select($"id", minhash_signature($"text").as("sig"))
    val pairs = sigs.as("a").crossJoin(sigs.as("b"))
      .filter($"a.id" < $"b.id")
      .select($"a.id", $"b.id", vec_eq_fraction($"a.sig", $"b.sig").as("j"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0) // identical
    assert(pairs((1L, 3L)) < 0.6, s"heavily mutated doc too similar: ${pairs((1L, 3L))}")
  }

  test("minHashNearDupPairs finds near-dups, skips dissimilar; dedup drops losers") {
    val nearDup = mutate(baseText, 1, 7) // one word changed
    val docs = Seq(
      (10L, baseText),
      (11L, nearDup),
      (12L, "completely different content about spark aggregation plans and " +
        "catalyst optimizer rules that shares nothing with the fox story at all " +
        "because it talks about distributed query execution instead"),
      (13L, baseText) // exact dup of 10
    ).toDF("doc_id", "text")
    // threshold 0.5 needs a banding whose LSH threshold (1/b)^(1/r) sits
    // BELOW it: 32 bands x 4 rows -> s* ~= 0.42 (16x8's s* ~= 0.71 makes
    // 0.66-similar pairs coin-flip candidates)
    val pairs = Dedup.minHashNearDupPairs(docs, "doc_id", "text", threshold = 0.5,
      bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 13L)), s"exact dup missed: $pairs")
    assert(pairs.contains((10L, 11L)) && pairs.contains((11L, 13L)),
      s"near dup missed: $pairs")
    assert(!pairs.exists(p => p._1 == 12L || p._2 == 12L), s"false pair with 12: $pairs")
    val kept = Dedup.dedupByPairs(docs, "doc_id",
      Dedup.minHashNearDupPairs(docs, "doc_id", "text", threshold = 0.5, bands = 32))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 12L), s"kept $kept")
  }

  test("simhash: near-identical docs within small hamming; pairs found via buckets") {
    val docs = Seq(
      (1L, baseText),
      (2L, mutate(baseText, 1, 3)),
      (3L, "total different subject matter entirely unrelated words describing " +
        "machine learning feature engineering pipelines with embeddings and tokens " +
        "plus quality filtering heuristics for web corpora at massive scale")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.contains((1L, 2L)), s"simhash near-dup missed: $pairs")
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L), s"false pair: $pairs")
  }

  test("dedupByPairs over simhash and embedding pairs: losers drop, seniors and isolated rows survive") {
    val docs = Seq(
      (1L, baseText),
      (2L, mutate(baseText, 1, 3)), // near-dup of 1 -> loser
      (3L, "total different subject matter entirely unrelated words describing " +
        "machine learning feature engineering pipelines with embeddings and tokens " +
        "plus quality filtering heuristics for web corpora at massive scale")
    ).toDF("doc_id", "text")
    val keptSim = Dedup.dedupByPairs(docs, "doc_id",
      Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 3))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(keptSim == Set(1L, 3L), s"simhash dedup kept $keptSim")
    val dim = 8
    def unit(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(dim)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val vecs = ((0 until 30).map(i => (i.toLong, unit(i))) ++
      (0 until 3).map(i => (100L + i, unit(i)))) // exact clones -> losers
      .toDF("vec_id", "embedding")
    val keptEmb = Dedup.dedupByPairs(vecs, "vec_id",
      Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", dim,
        threshold = 0.99, planes = 6, tables = 8))
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(keptEmb == (0L until 30L).toSet, s"embedding dedup kept $keptEmb")
  }

  test("dedupTransitiveByPairs over simhash and embedding pairs: chains collapse to one survivor") {
    // simhash chain: each hop flips 2 fresh bits in different blocks, so
    // adjacent docs sit at Hamming 2 (paired at bound 3) while the chain
    // ends sit at Hamming 8 (never paired directly) — ids ordered so the
    // one-pass combinator would keep BOTH ends, the transitive one exactly one
    val base = 0x0123456789abcdefL
    val hops = Seq(0L,
      (1L << 1) | (1L << 12),
      (1L << 1) | (1L << 12) | (1L << 23) | (1L << 34),
      (1L << 1) | (1L << 12) | (1L << 23) | (1L << 34) | (1L << 45) | (1L << 56),
      (1L << 1) | (1L << 12) | (1L << 23) | (1L << 34) | (1L << 45) | (1L << 56)
        | (1L << 2) | (1L << 13))
    // ids: chain order 10,13,11,14,12 — doc 12 (the far end) has NO pair
    // with a smaller id except via the chain interior
    val ids = Seq(10L, 13L, 11L, 14L, 12L)
    val rows = ids.zip(hops).map { case (i, m) => (i, base ^ m) }
    val pairs = Dedup.simHashNearDupPairsOnHashes(rows.toDF("id", "sh"), "id", "sh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 13L), (11L, 13L), (11L, 14L), (12L, 14L)),
      s"chain fixture pairs: $pairs")
    val kept = Dedup.dedupTransitiveByPairs(
      ids.toDF("id"), "id", pairs.toSeq.toDF("id_a", "id_b"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L), s"transitive chain must keep exactly its minimum: $kept")
    // embedding transitive: 3 exact clones of one direction + 2 isolated
    val dim = 8
    def unit(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(dim)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val vecs = Seq((5L, unit(1)), (6L, unit(1)), (7L, unit(1)),
      (8L, unit(2)), (9L, unit(3))).toDF("vec_id", "embedding")
    val keptEmb = Dedup.dedupTransitiveByPairs(vecs, "vec_id",
      Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", dim,
        threshold = 0.99, planes = 4, tables = 8))
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(keptEmb == Set(5L, 8L, 9L), s"embedding transitive kept $keptEmb")
  }

  test("stored-fingerprint dedup matrix: on-hashes and on-signatures wrappers agree with their text twins") {
    // simhash on-hashes, one-pass + transitive, on the chain fixture: each
    // hop Hamming 2, ends Hamming 8; ids 10,13,11,14,12 in chain order
    val base = 0x0123456789abcdefL
    val hops = Seq(0L,
      (1L << 1) | (1L << 12),
      (1L << 1) | (1L << 12) | (1L << 23) | (1L << 34),
      (1L << 1) | (1L << 12) | (1L << 23) | (1L << 34) | (1L << 45) | (1L << 56),
      (1L << 1) | (1L << 12) | (1L << 23) | (1L << 34) | (1L << 45) | (1L << 56)
        | (1L << 2) | (1L << 13))
    val rows = Seq(10L, 13L, 11L, 14L, 12L).zip(hops)
      .map { case (i, m) => (i, base ^ m) }.toDF("id", "sh")
    // pairs: (10,13),(11,13),(11,14),(12,14) -> one-pass losers {13,14} and
    // 12 survives (its only pair (12,14) has 12 on the senior side)
    val rowPairs = Dedup.simHashNearDupPairsOnHashes(rows, "id", "sh")
    val onePass = Dedup.dedupByPairs(rows, "id", rowPairs)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(onePass == Set(10L, 11L, 12L), s"one-pass on hashes kept $onePass")
    val transitive = Dedup.dedupTransitiveByPairs(rows, "id", rowPairs)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(transitive == Set(10L), s"transitive on hashes kept $transitive")
    // minhash transitive on stored signatures == text transitive on the
    // chain corpus from the transitive test fixture
    val rnd = new scala.util.Random(7)
    val pool = Array.tabulate(200)(i => s"w${i}x${rnd.nextInt(1000)}")
    def doc(i: Int): String = pool.slice(6 * i, 6 * i + 60).mkString(" ")
    val docs = ((0 until 8).map(i => (10L + i, doc(i))) ++
      Seq((900L, baseText))).toDF("doc_id", "text")
    val fromText = Dedup.dedupTransitiveByPairs(docs, "doc_id",
      Dedup.minHashNearDupPairs(docs, "doc_id", "text",
        threshold = 0.7, numHashes = 128, bands = 32))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val sigDir = java.nio.file.Files.createTempDirectory("graft_tsig_").toString
    Dedup.minHashSignatures(docs, "doc_id", "text", numHashes = 128)
      .write.mode("overwrite").parquet(sigDir)
    val fromSigs = Dedup.dedupTransitiveByPairs(docs, "doc_id",
      Dedup.minHashNearDupPairsOnSignatures(spark.read.parquet(sigDir), "doc_id",
        "minhash_sig", threshold = 0.7, numHashes = 128, bands = 32))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(fromSigs == fromText, s"stored-sig transitive diverged: $fromSigs vs $fromText")
    assert(fromSigs == Set(10L, 900L), s"chain must collapse to its minimum: $fromSigs")
  }

  /** `nearDupClusters` at cap 0 (rounds until no edge crosses two labels),
    * at caps of a few edges (rounds, then the driver finish on a contracted
    * list that is not empty yet: an 11-chain contracts 10 -> 8 -> 4 -> 0
    * crossing edges, so cap 4 finishes on 4 of them; a 40-chain 39 -> 37 ->
    * 33 -> 25 -> 9 -> 0, so cap 10 finishes on 9) and at the default cap
    * (zero rounds for a local pair list).
    */
  private def atCaps(docs: org.apache.spark.sql.DataFrame, pairs: org.apache.spark.sql.DataFrame)(
      check: (String, org.apache.spark.sql.DataFrame) => Unit): Unit = {
    Seq(0, 4, 10).foreach(c => check(s"cap $c", Dedup.nearDupClusters(docs, "doc_id", pairs, c)))
    check("default cap", Dedup.nearDupClusters(docs, "doc_id", pairs))
  }

  test("nearDupClusters: long transitive chains collapse to the minimum id") {
    // 11-node chain 1-2-...-11 needs ~log rounds thanks to pointer jumping
    val docs = ((1L to 11L) :+ 99L).toDF("doc_id")
    val pairs = (1L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    atCaps(docs, pairs) { (cap, df) =>
      val clusters = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (1L to 11L).foreach(i => assert(clusters(i) == 1L, s"$cap: node $i -> ${clusters(i)}"))
      assert(clusters(99L) == 99L, cap)
    }
  }

  test("nearDupClusters: string ids contract until no edge crosses two labels") {
    // the driver finish unions long labels only: string ids run rounds to
    // the end at every cap. d00..d39 is a chain, d50-d51 a pair, d99 alone
    // and e7 (absent from df) must not bridge d05 with d51.
    def id(i: Int) = f"d$i%02d"
    val docs = ((0 until 40).map(id) ++ Seq(id(50), id(51), id(99))).toDF("doc_id")
    val pairs = ((0 until 39).map(i => (id(i), id(i + 1))) ++
      Seq((id(50), id(51)), (id(5), "e7"), (id(51), "e7"))).toDF("id_a", "id_b")
    val want = (0 until 40).map(i => id(i) -> id(0)).toMap ++
      Map(id(50) -> id(50), id(51) -> id(50), id(99) -> id(99))
    atCaps(docs, pairs) { (cap, df) =>
      val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == want, s"$cap: $got")
    }
  }

  test("nearDupClusters == exact connected components on random graphs") {
    val rnd = new scala.util.Random(12)
    for (trial <- 0 until 3) {
      val n = 60
      val edges = (0 until 70)
        .map(_ => (rnd.nextInt(n), rnd.nextInt(n)))
        .filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2).toLong, math.max(p._1, p._2).toLong))
        .distinct
      // exact expected labels: min-label propagation to fixpoint in plain Scala
      val label = Array.tabulate(n)(_.toLong)
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (a, b) =>
          val m = math.min(label(a.toInt), label(b.toInt))
          if (label(a.toInt) != m) { label(a.toInt) = m; changed = true }
          if (label(b.toInt) != m) { label(b.toInt) = m; changed = true }
        }
      }
      val docs = (0L until n.toLong).toDF("doc_id")
      val pairs = edges.toDF("id_a", "id_b")
      atCaps(docs, pairs) { (cap, df) =>
        val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        (0 until n).foreach { i =>
          assert(got(i.toLong) == label(i),
            s"trial $trial $cap node $i: got ${got(i.toLong)} want ${label(i)}")
        }
      }
    }
  }

  test("Spread.staticPartitionCount: free probe on plain scans, None on adaptive plans") {
    val plain = spark.range(10).toDF("id").select($"id")
    assert(Spread.staticPartitionCount(plain).nonEmpty,
      "a no-exchange plan must yield a free partition count")
    // a groupBy introduces an exchange -> AQE wraps the plan; probing it
    // would MATERIALIZE query stages, so the helper must refuse
    val adaptive = spark.range(10).toDF("id").groupBy($"id").count()
    assert(Spread.staticPartitionCount(adaptive).isEmpty,
      "an AQE-wrapped plan must not be probed (stage materialization)")
  }

  test("nearDupClusters driver fast path == distributed loop (cap fallback), incl. outside endpoints") {
    // pairs reference id 2 which is NOT in df: it must neither receive a
    // label nor bridge 1 and 3 — on BOTH paths
    val docs = Seq(1L, 3L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 5L)).toDF("id_a", "id_b")
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = labels(Dedup.nearDupClusters(docs, "doc_id", pairs)) // default cap: driver union-find
    val slow = labels(Dedup.nearDupClusters(docs, "doc_id", pairs, 0)) // rounds until no edge crosses
    val overCap = labels(Dedup.nearDupClusters(docs, "doc_id", pairs, 2)) // 3 edges > cap
    assert(fast == Map(1L -> 1L, 3L -> 3L, 5L -> 3L),
      s"outside endpoint 2 must not bridge 1 and 3: $fast")
    assert(slow == fast, s"distributed loop diverged: $slow vs $fast")
    assert(overCap == fast, s"over-cap fallback diverged: $overCap vs $fast")
  }

  test("nearDupClusters: a local pair list, the same pairs from parquet and the loop label alike") {
    // seeded random graphs with null ids, duplicate ids in df, null
    // endpoints, endpoints outside df and duplicate edges
    val rnd = new scala.util.Random(29)
    def parquet(df: org.apache.spark.sql.DataFrame) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_clusters_").toString + "/t"
      df.write.parquet(dir)
      spark.read.parquet(dir)
    }
    def labels(df: org.apache.spark.sql.DataFrame): Seq[(Option[Long], Option[Long])] =
      df.collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        Option(r.get(1)).map(_.asInstanceOf[Long]))).toSeq.sorted
    for (trial <- 0 until 3) {
      val n = 50
      val ids: Seq[Option[Long]] = (0L until n).map(Some(_)) ++
        Seq.fill(5)(Some(rnd.nextInt(n).toLong)) ++ Seq(None, None)
      def endpoint(): Option[Long] =
        if (rnd.nextInt(25) == 0) None else Some(rnd.nextInt(n + 10).toLong)
      val drawn = Seq.fill(45)((endpoint(), endpoint())).filter { case (a, b) => a != b }
      val edges = drawn ++ drawn.take(5)
      val docs = parquet(ids.toDF("doc_id"))
      val local = labels(Dedup.nearDupClusters(docs, "doc_id", edges.toDF("id_a", "id_b")))
      val fromParquet = labels(Dedup.nearDupClusters(docs, "doc_id",
        parquet(edges.toDF("id_a", "id_b"))))
      val loop = labels(Dedup.nearDupClusters(docs, "doc_id", edges.toDF("id_a", "id_b"), 0))
      // exact components over the edges whose endpoints are both in df
      val inDf = ids.flatten.toSet
      val label = scala.collection.mutable.Map[Long, Long]() ++ inDf.map(i => i -> i)
      val live = edges.collect { case (Some(a), Some(b)) if inDf(a) && inDf(b) => (a, b) }
      var changed = true
      while (changed) {
        changed = false
        live.foreach { case (a, b) =>
          val m = math.min(label(a), label(b))
          if (label(a) != m || label(b) != m) { label(a) = m; label(b) = m; changed = true }
        }
      }
      val want = ids.map(i => (i, i.map(label))).sorted
      assert(local == want, s"trial $trial: local pair list")
      assert(fromParquet == want, s"trial $trial: parquet pair list")
      assert(loop == want, s"trial $trial: distributed loop")
    }
  }

  test("nearDupClusters evaluates the pair list once, also past the driver edge cap") {
    // every pair row that leaves the source bumps the accumulator: one
    // evaluation of 4 pairs adds exactly 4, whichever path reads them
    val docs = (1L to 7L).toDF("doc_id")
    val edgeList = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L))
    for (cap <- Seq(3, 0)) {
      val evaluated = spark.sparkContext.longAccumulator(s"pair rows, cap $cap")
      val pairs = edgeList.toDS().repartition(2)
        .mapPartitions { it => it.map { p => evaluated.add(1); p } }
        .toDF("id_a", "id_b")
      // 3: the 4 pairs overflow the driver path; 0: the loop alone
      val labels = Dedup.nearDupClusters(docs, "doc_id", pairs, cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L,
        7L -> 7L), s"cap $cap labels: $labels")
      assert(evaluated.value == edgeList.size,
        s"cap $cap: ${evaluated.value} pair rows produced for ${edgeList.size} pairs")
    }
  }

  test("nearDupClusters: non-integral pair ids take the distributed loop (no silent cast)") {
    // 2.5 matches no long id; a cast to long would turn it into 2 and bridge
    // {1, 2} with {3, 4}
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((1.0, 2.0), (2.5, 3.0), (3.0, 4.0)).toDF("id_a", "id_b")
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val default = labels(Dedup.nearDupClusters(docs, "doc_id", pairs))
    val slow = labels(Dedup.nearDupClusters(docs, "doc_id", pairs, 0))
    assert(default == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L), s"labels: $default")
    assert(default == slow, s"distributed loop diverged: $slow vs $default")
  }

  test("Spread.staticPartitionCount with AQE off: no probe job on broadcast or subquery plans") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = spark.range(10).join(broadcast(spark.range(5)), "id")
      val subquery = spark.sql(
        "SELECT id FROM range(10) WHERE id > (SELECT max(id) FROM range(3))")
      sc.setJobGroup("probe", "staticPartitionCount")
      assert(Spread.staticPartitionCount(joined).isEmpty, "broadcast plan probed")
      assert(Spread.staticPartitionCount(subquery).isEmpty, "subquery plan probed")
      assert(Spread.staticPartitionCount(spark.range(10).toDF()).nonEmpty,
        "a plain scan must still be probed for free")
      // listener events arrive in order: once the marker job is seen, a
      // probe job would have been seen before it
      sc.setJobGroup("marker", "listener fence")
      sc.parallelize(Seq(1), 1).count()
      val end = System.currentTimeMillis + 20000
      while (!groups.contains("marker") && System.currentTimeMillis < end) Thread.sleep(50)
      assert(groups.contains("marker"), s"marker job never observed: $groups")
      assert(!groups.contains("probe"), s"the probe submitted jobs: $groups")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  /** The frame `nearDupClusters` returns for the chain 1-2-...-n at cap 0
    * (no driver union-find: rounds until no edge crosses two labels), over
    * the same 41 docs whatever n: a 3-chain converges in 1 round, a 40-chain
    * in 5.
    */
  private def chainClusters(n: Long): org.apache.spark.sql.DataFrame =
    Dedup.nearDupClusters(((1L to 40L) :+ 999L).toDF("doc_id"), "doc_id",
      (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b"), 0)

  test("nearDupClusters plan size is O(1) in iterations (lineage truncated, distributed loop)") {
    def planNodes(n: Long): Int = {
      var cnt = 0
      chainClusters(n).queryExecution.optimizedPlan.foreach(_ => cnt += 1)
      cnt
    }
    assert(planNodes(40) == planNodes(3),
      "plan should collapse to a checkpointed scan regardless of round count")
  }

  test("nearDupClusters: the size estimate does not compound per round") {
    // each round joins the previous round's checkpoint; a checkpoint that
    // kept its origin's estimate multiplied it in every round's joins
    def estimateBits(n: Long): Int =
      chainClusters(n).queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    assert(estimateBits(40) == estimateBits(3),
      s"estimate bits: 40-chain ${estimateBits(40)}, 3-chain ${estimateBits(3)}")
  }

  test("nearDupClusters frees per-round checkpoints: resident frames don't grow with rounds") {
    // a 40-chain needs 5 pointer-jumping rounds at cap 0; without cleanup
    // the block managers would hold a checkpoint per round + the pair list
    // at the end. Only the FINAL round's checkpoint may stay (the returned
    // plan reads its labels).
    val n = 40L
    val docs = ((1L to n) :+ 999L).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    var before = spark.sparkContext.getPersistentRDDs.keySet
    atCaps(docs, pairs) { (cap, clusters) =>
      assert(clusters.filter($"doc_id" === 1L).collect()(0).getLong(1) == 1L, cap)
      // unpersist is async — poll until only the final round's checkpoint remains
      val end = System.currentTimeMillis + 15000
      def extra() = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
      while (extra().size > 1 && System.currentTimeMillis < end) Thread.sleep(100)
      assert(extra().size <= 1,
        s"$cap: clustering left ${extra().size} checkpoints resident (want <= 1, the final round)")
      before = spark.sparkContext.getPersistentRDDs.keySet
    }
  }

  test("nearDupClusters converges on long chains (fixpoint early-stop, no fixed-round split)") {
    // a 40-doc chain has diameter 39: a fixed 4-round budget (~2^4)
    // silently split it into several clusters; the stop rule must collapse
    // it fully — and stop early on its own
    val n = 40L
    val docs = ((1L to n) :+ 999L).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    atCaps(docs, pairs) { (cap, df) =>
      val clusters = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (1L to n).foreach(i => assert(clusters(i) == 1L,
        s"$cap: chain node $i -> ${clusters(i)} (split cluster)"))
      assert(clusters(999L) == 999L, cap)
    }
  }

  test("simhash: oversized triple buckets are capped (boilerplate skew guard)") {
    // 60 identical docs share all six blocks -> one 60-doc bucket per
    // block-triple; two genuinely near-dup docs elsewhere must still pair
    val boiler = (0 until 60).map(i => (100L + i, "boilerplate legal footer " +
      "all rights reserved contact us terms of service privacy policy"))
    val near = Seq((1L, baseText), (2L, mutate(baseText, 1, 3)))
    val docs = (boiler ++ near).toDF("doc_id", "text")
    // cap below the boilerplate bucket: its pairs vanish, the normal pair stays
    val capped = Dedup.simHashNearDupPairs(docs, "doc_id", "text",
      maxHamming = 3, maxBucketSize = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)), s"normal near-dup lost by the cap: $capped")
    assert(!capped.exists(p => p._1 >= 100L || p._2 >= 100L),
      s"oversized boilerplate bucket must not emit pairs: ${capped.take(5)}")
    // default cap (10000) keeps everything: 60 identical docs -> C(60,2) pairs
    val uncapped = Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .filter($"id_a" >= 100L).count()
    assert(uncapped == 60L * 59 / 2, s"expected 1770 boilerplate pairs, got $uncapped")
  }

  test("embedding LSH: oversized buckets capped; dirty vectors drop from banding") {
    val dim = 8
    val template = Array.fill(dim)(0.5f)
    val clones = (0 until 40).map(i => (100L + i, template))
    val rnd = new scala.util.Random(5)
    def unit(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(dim)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val a = unit(1)
    val near = Seq((1L, a), (2L, a.map(x => x + rnd.nextGaussian().toFloat * 0.005f)))
    val dirty = Seq(
      (900L, Array(Float.NaN) ++ Array.fill(dim - 1)(1.0f)),
      (901L, Array.fill(dim)(0.0f)),
      (902L, Array(1.0f, 2.0f))) // wrong length
    val df = (clones ++ near ++ dirty).toDF("vec_id", "embedding")
    val capped = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", dim,
      threshold = 0.95, planes = 6, tables = 4, maxBucketSize = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)), s"normal near-dup lost by the cap: $capped")
    assert(!capped.exists(p => p._1 >= 100L || p._2 >= 100L),
      s"oversized template bucket must not emit pairs: ${capped.take(5)}")
    assert(!capped.exists(p => p._1 >= 900L || p._2 >= 900L),
      s"dirty vectors must never pair: $capped")
    // default cap keeps the clone pairs: C(40,2)
    val uncapped = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", dim,
      threshold = 0.95, planes = 6, tables = 4)
      .filter($"id_a" >= 100L).count()
    assert(uncapped == 40L * 39 / 2, s"expected 780 clone pairs, got $uncapped")
  }

  test("minhash band exchanges carry (band, id) only; signatures rejoin by id") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = (0 until 50).map(i => (i.toLong, s"$baseText tail$i")).toDF("doc_id", "text")
      val out = Dedup.minHashNearDupPairs(docs, "doc_id", "text")
      val shuffles = out.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          (s.outputPartitioning.toString, s.child.output.map(_.name))
      }
      val bandShuffles = shuffles.filter(_._1.contains("_band"))
      assert(bandShuffles.nonEmpty, s"expected band-partitioned exchanges: $shuffles")
      bandShuffles.foreach { case (part, names) =>
        assert(!names.exists(_.contains("_sig")),
          s"band exchange $part ships 1KB signatures: $names")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("embedding bucket exchanges carry (bucket, id) only; vectors rejoin by id") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dim = 8
      val docs = (0 until 50).map { i =>
        val r = new scala.util.Random(i)
        (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat))
      }.toDF("vec_id", "embedding")
      val out = Dedup.embeddingNearDupPairs(docs, "vec_id", "embedding", dim,
        threshold = 0.9, planes = 6, tables = 4)
      val shuffles = out.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          (s.outputPartitioning.toString, s.child.output.map(_.name))
      }
      val bucketShuffles = shuffles.filter(_._1.contains("_bucket"))
      assert(bucketShuffles.nonEmpty, s"expected bucket-partitioned exchanges: $shuffles")
      bucketShuffles.foreach { case (part, names) =>
        assert(!names.exists(n => n.contains("_v") || n.contains("_n")),
          s"bucket exchange $part ships vectors/norms: $names")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("simhash bucket exchanges carry (triple key, id, hash) only — never the text") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = (0 until 50).map(i => (i.toLong, s"$baseText tail$i")).toDF("doc_id", "text")
      val out = Dedup.simHashNearDupPairs(docs, "doc_id", "text")
      val shuffles = out.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          (s.outputPartitioning.toString, s.child.output.map(_.name))
      }
      assert(shuffles.nonEmpty, "expected bucket exchanges")
      shuffles.foreach { case (part, names) =>
        assert(!names.exists(_.contains("text")),
          s"an exchange ships the text column: $part $names")
      }
      // the hash is computed BEFORE any exchange: every shuffled row is just
      // (bucket key, id, 8-byte hash) / aggregation slices of it
      val bucketShuffles = shuffles.filter(_._1.contains("_bucket"))
      assert(bucketShuffles.nonEmpty, s"expected _bucket-partitioned exchanges: $shuffles")
      bucketShuffles.foreach { case (_, names) =>
        // "count" is the bucket-size partial aggregate's buffer column
        assert(names.toSet.subsetOf(Set("_bucket", "_id", "_sh", "_bn", "count")),
          s"bucket exchange carries more than (key, id, hash): $names")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("ngramJaccard: exact set similarity (1.0 identical, 0.0 disjoint)") {
    val df = Seq((baseText, baseText, "alpha beta gamma delta epsilon zeta"))
      .toDF("a", "b", "c")
    val r = df.select(
      Dedup.ngramJaccard($"a", $"b").as("same"),
      Dedup.ngramJaccard($"a", $"c").as("diff")).collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.0)
    // two shingle-less texts: NULL, not an ANSI DIVIDE_BY_ZERO error
    val empty = Seq(("", " ")).toDF("a", "b")
      .select(Dedup.ngramJaccard($"a", $"b").as("j")).collect()(0)
    assert(empty.isNullAt(0))
  }

  test("LSH plan shuffles band keys, not shingles (no explode of shingle sets)") {
    val docs = (0 until 100).map(i => (i.toLong, s"$baseText tail$i")).toDF("doc_id", "text")
    val plan = Dedup.minHashNearDupPairs(docs, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    // the only explode is the per-row band array (16 rows/doc), never shingles
    assert(plan.contains("minhash_band_key") || plan.contains("explode"),
      s"expected banding in plan:\n$plan")
    assert(!plan.toLowerCase.contains("shingle_set"), s"shingles must not shuffle:\n$plan")
  }

  /** Polls briefly for the newest bucket-cap stats of `op`. */
  private def awaitCapStats(op: String, timeoutMs: Long = 20000): GraftMetrics.BucketCapStats = {
    val end = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < end) {
      GraftMetrics.lastBucketCapStats(op) match {
        case Some(s) => return s
        case None => Thread.sleep(50)
      }
    }
    fail(s"no bucket-cap stats recorded for '$op' within ${timeoutMs}ms")
  }

  test("bucket-cap truncation is LOUD: dropped-row share lands in GraftMetrics") {
    GraftMetrics.resetBucketCapStats()
    // same skew fixture as the cap test: 60 identical docs saturate all 20
    // simhash triple buckets at cap 50; 2 normal docs band into small buckets
    val boiler = (0 until 60).map(i => (100L + i, "boilerplate legal footer " +
      "all rights reserved contact us terms of service privacy policy"))
    val near = Seq((1L, baseText), (2L, mutate(baseText, 1, 3)))
    val docs = (boiler ++ near).toDF("doc_id", "text")
    Dedup.simHashNearDupPairs(docs, "doc_id", "text",
      maxHamming = 3, maxBucketSize = 50).collect()
    val s = awaitCapStats("simhash")
    // 62 docs x 20 triples banded; the 20 boilerplate triple buckets (60
    // rows each) are all over cap -> >= 1200 of 1240 rows dropped
    assert(s.bandedRows == 1240, s"banded: $s")
    assert(s.droppedRows >= 1200, s"dropped: $s")
    assert(s.droppedBuckets >= 20, s"buckets: $s")
    assert(s.maxBucketSize == 50, s"cap: $s")
    assert(s.droppedFraction > GraftMetrics.WarnDropFraction,
      s"this fixture must cross the warn threshold: $s")
    // and an uncapped run records ZERO dropped rows (metric, not just pairs)
    GraftMetrics.resetBucketCapStats()
    Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 3).collect()
    val clean = awaitCapStats("simhash")
    assert(clean.droppedRows == 0 && clean.bandedRows == 1240, s"uncapped: $clean")
  }

  test("an all-dropped cap run is never SILENT: real MEASURED stats, even when AQE elides the metric") {
    // when every bucket is over cap the query's result is empty, and AQE's
    // empty-relation propagation collapses everything above the bucket pass
    // — the counts come from the pass's own tasks, so the contract is
    // strict: a capped run always ends with real drop-share numbers.
    GraftMetrics.resetBucketCapStats()
    val docs = (0 until 60).map(i => (100L + i, "boilerplate legal footer " +
      "all rights reserved contact us terms of service privacy policy"))
      .toDF("doc_id", "text")
    val n = Dedup.simHashNearDupPairs(docs, "doc_id", "text",
      maxHamming = 3, maxBucketSize = 50).count()
    assert(n == 0, s"fixture must drop everything, got $n pairs")
    val s = awaitCapStats("simhash")
    // 60 docs x 20 triples, every bucket over cap 50 -> all 1200 rows dropped
    assert(s.bandedRows == 1200 && s.droppedRows == 1200 && s.droppedBuckets == 20,
      s"expected fully-measured all-dropped stats: $s")
  }

  test("transitive/cluster paths measure the cap metric too (lazy-checkpoint miss is not a false elision)") {
    // the pairs plan is consumed inside nearDupClusters (a driver collect,
    // or a lazy localCheckpoint on the distributed loop) — the counts must
    // still land with real numbers.
    GraftMetrics.resetBucketCapStats()
    val docs = (0 until 60).map(i => (100L + i, "boilerplate legal footer " +
      "all rights reserved contact us terms of service privacy policy"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupTransitiveByPairs(docs, "doc_id",
      Dedup.minHashNearDupPairs(docs, "doc_id", "text",
        threshold = 0.8, maxBucketSize = 50)).count()
    assert(kept == 60L, "all-over-cap buckets emit no pairs -> everything survives")
    val s = awaitCapStats("minhash")
    // 60 identical texts x 16 bands, every band bucket (60 rows) over cap 50
    assert(s.bandedRows == 960 && s.droppedRows == 960 && s.droppedBuckets == 16,
      s"expected measured stats on the transitive path: $s")
  }

  test("simhash triple bucketing: every Hamming<=3 flip pattern pairs, including worst-case block spread") {
    // synthetic hashes through simHashNearDupPairsOnHashes: each planted
    // clone flips a known bit pattern of its base. Completeness is
    // STRUCTURAL (any <=3 flipped bits corrupt <=3 of the 6 blocks, so some
    // block-triple fully agrees), so even the adversarial spread of 3 bits
    // across 3 DIFFERENT blocks must pair; a Hamming-4 clone must never pair.
    val flips: Seq[(Long, Int)] = Seq( // (xor mask, expected hamming)
      (1L << 5, 1), // one bit, block 0
      ((1L << 5) | (1L << 27), 2), // two bits, blocks 0 and 2
      ((1L << 5) | (1L << 27) | (1L << 60), 3), // three blocks: 0, 2, 5
      ((1L << 0) | (1L << 11) | (1L << 22), 3), // block-start bits of 0,1,2
      ((1L << 10) | (1L << 21) | (1L << 43), 3), // block-END bits of 0,1,3
      ((1L << 63) | (1L << 53) | (1L << 44), 3)) // top bits of blocks 5,4,4
    val bases = Seq(0x123456789abcdef0L, -987654321987654321L, 0L)
    val rows = bases.zipWithIndex.flatMap { case (base, b) =>
      val origin = (b * 1000L, base)
      val clones = flips.zipWithIndex.map { case ((m, _), f) =>
        (b * 1000L + 100L + f, base ^ m)
      }
      // hamming-4 distractor: bits in 4 different blocks
      val far = (b * 1000L + 500L,
        base ^ ((1L << 1) | (1L << 12) | (1L << 23) | (1L << 34)))
      origin +: far +: clones
    }
    val pairs = Dedup.simHashNearDupPairsOnHashes(
      rows.toDF("id", "sh"), "id", "sh", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    bases.indices.foreach { b =>
      flips.zipWithIndex.foreach { case ((_, ham), f) =>
        val key = (b * 1000L, b * 1000L + 100L + f)
        assert(pairs.get(key).contains(ham),
          s"base $b flip $f: expected hamming $ham, got ${pairs.get(key)}")
      }
      assert(!pairs.keys.exists(p => p._1 == b * 1000L + 500L || p._2 == b * 1000L + 500L),
        s"hamming-4 distractor of base $b must not pair: ${pairs.keys}")
    }
  }

  test("simhash: null hashes/texts drop from banding — no pairs, no cap-stat pollution") {
    GraftMetrics.resetBucketCapStats()
    val near = Seq((1L, baseText), (2L, mutate(baseText, 1, 3)))
    val docs = (near ++ Seq((3L, null: String), (4L, null: String))).toDF("doc_id", "text")
    val pairs = Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.size == 1,
      s"null texts must not pair (nor suppress real pairs): $pairs")
    val s = awaitCapStats("simhash")
    // only the 2 real docs band: 2 x 20 rows — the nulls never reach the
    // exchange, so they can't inflate bandedRows or a shared null bucket
    assert(s.bandedRows == 40 && s.droppedRows == 0, s"nulls banded: $s")
    // same for a stored-fingerprint column with null rows
    val h = Seq((1L, java.lang.Long.valueOf(42L)), (2L, java.lang.Long.valueOf(42L)),
      (9L, null.asInstanceOf[java.lang.Long])).toDF("id", "sh")
    val hp = Dedup.simHashNearDupPairsOnHashes(h, "id", "sh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hp == Set((1L, 2L)), s"null stored hash must not pair: $hp")
  }

  test("simhash: zero-feature texts (empty/punct-only) never pair — they all hash to the 0 sentinel") {
    val near = Seq((1L, baseText), (2L, mutate(baseText, 1, 3)))
    val featureless = Seq((10L, ""), (11L, "   "), (12L, "!!! ??? ***"), (13L, "..."))
    val pairs = Dedup.simHashNearDupPairs(
      (near ++ featureless).toDF("doc_id", "text"), "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)),
      s"feature-less docs share hash 0 but carry no signal — must not pair: $pairs")
  }

  test("simhash generalized bound: worst-case Hamming<=m pairs found for m=1..6, m+1 never") {
    // maxHamming = m uses m+3 blocks keyed on triples: m corrupted blocks
    // still leave 3 agreeing ones. Plant the adversarial case — one flipped
    // bit in each of m DIFFERENT blocks (block-start offsets) — plus an
    // (m+1)-block distractor that must never pair at bound m. (m < 3 gets
    // FEWER, WIDER keys than the fixed 6-block scheme: e.g. m=1 uses 4
    // blocks -> 4 keys of 48 bits — less fan-out, sparser buckets.)
    for (m <- 1 to 6) {
      val blocks = m + 3
      val bits = Dedup.simHashBlockBits(blocks)
      val offsets = bits.scanLeft(0)(_ + _).init
      assert(bits.sum == 64, s"block split must cover 64 bits: ${bits.toSeq}")
      val mask = (0 until m).map(b => 1L << offsets(b)).reduce(_ | _)
      val distractor = (0 to m).map(b => 1L << offsets(b)).reduce(_ | _)
      val base = 0x5a5a1234deadbeefL
      val rows = Seq((1L, base), (2L, base ^ mask), (3L, base ^ distractor))
        .toDF("id", "sh")
      val pairs = Dedup.simHashNearDupPairsOnHashes(rows, "id", "sh", maxHamming = m)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
      assert(pairs.get((1L, 2L)).contains(m),
        s"m=$m: worst-case plant missed or wrong hamming: $pairs")
      assert(!pairs.contains((1L, 3L)),
        s"m=$m: hamming-${m + 1} distractor must not pair: $pairs")
      // 2 vs 3 differ in exactly 1 bit -> always within any bound
      assert(pairs.get((2L, 3L)).contains(1), s"m=$m: 1-bit pair missed: $pairs")
    }
    // beyond the supported limit the operator refuses loudly
    val err = intercept[IllegalArgumentException] {
      Dedup.simHashNearDupPairsOnHashes(
        Seq((1L, 0L)).toDF("id", "sh"), "id", "sh", maxHamming = 7)
    }
    assert(err.getMessage.contains("maxHamming"))
  }

  test("simhash triple buckets stay sparse where 16-bit quarters saturated (scale-true key space)") {
    // 100k random-but-deterministic hashes at cap 2: the OLD 4x16-bit
    // quarter keys put ~1.6 docs in every bucket (lambda = n/65536), so a
    // large share of rows sat in over-cap buckets — computed directly below
    // to show the quarter scheme WOULD warn here. The triple keys spread the
    // same corpus over 2^32 buckets per triple: zero dropped rows, and
    // planted worst-case Hamming-3 pairs are still recovered exactly.
    val n = 100000L
    val hashes = spark.range(n).select($"id", wyhash64($"id").as("sh"))
    val cap = 2
    val quarterDropped = hashes.select(explode(array((0 until 4).map(q =>
        struct(lit(q).as("q"),
          shiftrightunsigned($"sh", q * 16).bitwiseAND(lit(0xffffL)).as("v"))): _*))
        .as("b"))
      .groupBy($"b").count().filter($"count" > cap)
      .agg(coalesce(sum($"count"), lit(0L))).collect()(0).getLong(0)
    assert(quarterDropped.toDouble / (4 * n) > GraftMetrics.WarnDropFraction,
      s"fixture must saturate the legacy quarter keys: $quarterDropped dropped of ${4 * n}")
    // worst-case plants: 3 flipped bits in 3 different blocks
    val mask = (1L << 5) | (1L << 27) | (1L << 60)
    val planted = hashes.filter($"id" < 10)
      .select(($"id" + 1000000L).as("id"), $"sh".bitwiseXOR(lit(mask)).as("sh"))
    GraftMetrics.resetBucketCapStats()
    val pairs = Dedup.simHashNearDupPairsOnHashes(
      hashes.union(planted), "id", "sh", maxHamming = 3, maxBucketSize = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 10L).foreach(i => assert(pairs.contains((i, 1000000L + i)),
      s"planted pair $i lost: ${pairs.take(10)}"))
    val s = awaitCapStats("simhash")
    assert(s.bandedRows == (n + 10) * 20, s"banded: $s")
    assert(s.droppedRows == 0,
      s"triple keys must not saturate at this corpus size: $s")
  }

  test("minHashNearDupPairsOnSignatures: identical pairs to the text path; stored sigs never re-hash") {
    val nearDup = mutate(baseText, 1, 7)
    val docs = Seq(
      (10L, baseText), (11L, nearDup), (13L, baseText),
      (12L, "completely different content about spark aggregation plans and " +
        "catalyst optimizer rules that shares nothing with the fox story at all " +
        "because it talks about distributed query execution instead"),
      (20L, ""), (21L, null: String) // sentinel + null signatures must drop
    ).toDF("doc_id", "text")
    def toSet(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val fromText = toSet(Dedup.minHashNearDupPairs(docs, "doc_id", "text",
      threshold = 0.5, bands = 32))
    // ingest-time fingerprints round-trip parquet storage, then pairs come
    // from the STORED column only
    val sigDir = java.nio.file.Files.createTempDirectory("graft_minhash_sigs_").toString
    Dedup.minHashSignatures(docs, "doc_id", "text").write.mode("overwrite").parquet(sigDir)
    val stored = spark.read.parquet(sigDir)
    assert(stored.count() == 6, "ingest stores EVERY row, sentinel/null included")
    val onSigs = Dedup.minHashNearDupPairsOnSignatures(stored, "doc_id", "minhash_sig",
      threshold = 0.5, bands = 32)
    assert(toSet(onSigs) == fromText,
      s"signature path diverged from the text path: ${toSet(onSigs)} vs $fromText")
    // the whole point: NO minhash/shingle computation anywhere in the plan —
    // the recompute passes the text path pays (up to 3x/run) disappear
    val plan = onSigs.queryExecution.executedPlan.toString
    assert(!plan.contains("minhash_signature") && !plan.toLowerCase.contains("shingle"),
      s"stored-signature plan re-hashes text:\n$plan")
    // one-pass dedup over the stored-signature pairs keeps the same
    // survivors as the text path, and a corpus row WITHOUT a fingerprint row
    // always survives
    val keptText = Dedup.dedupByPairs(docs, "doc_id",
      Dedup.minHashNearDupPairs(docs, "doc_id", "text", threshold = 0.5, bands = 32))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val keptSigs = Dedup.dedupByPairs(docs, "doc_id", onSigs)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(keptSigs == keptText, s"stored-signature dedup diverged: $keptSigs vs $keptText")
    val extra = Seq((99L, "row with no fingerprint")).toDF("doc_id", "text")
    val keptExtra = Dedup.dedupByPairs(docs.union(extra), "doc_id", onSigs)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(keptExtra == keptText + 99L,
      s"fingerprint-less rows must survive: $keptExtra")
  }

  test("minHashNearDupPairsOnSignatures fails fast on a signature-width mismatch") {
    val docs = Seq((1L, baseText), (2L, mutate(baseText, 1, 3))).toDF("doc_id", "text")
    val stored = Dedup.minHashSignatures(docs, "doc_id", "text", numHashes = 64)
    // numHashes=128 against 64-slot stored signatures: every high band would
    // degenerate to one corpus-wide constant bucket — must raise, not band
    val e = intercept[Exception] {
      Dedup.minHashNearDupPairsOnSignatures(stored, "doc_id", "minhash_sig",
        numHashes = 128).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("numHashes")),
      s"expected a width-mismatch error, got: $e")
    // matching width still works
    assert(Dedup.minHashNearDupPairsOnSignatures(stored, "doc_id", "minhash_sig",
      numHashes = 64).count() >= 0)
  }

  test("dedupTransitiveByPairs over minhash pairs: a near-dup CHAIN keeps exactly its minimum id") {
    // sliding-window chain: doc i covers words [6i, 6i+60) of a 200-word
    // pool — adjacent docs share 54/66 words (Jaccard ~0.82 on shingles),
    // chain ends share nothing. Deterministic: fixed texts, fixed hashes.
    val rnd = new scala.util.Random(7)
    val pool = Array.tabulate(200)(i => s"w${i}x${rnd.nextInt(1000)}")
    def doc(i: Int): String = pool.slice(6 * i, 6 * i + 60).mkString(" ")
    val chain = (0 until 8).map(i => (10L + i, doc(i)))
    val isolated = Seq((900L, baseText), (901L, mutate(baseText, 30, 99)))
    val docs = (chain ++ isolated).toDF("doc_id", "text")
    // 32 bands of 4 rows: P(band hit) at J=0.8 is 1-(1-0.8^4)^32 ~ 1.0,
    // so every genuine link banding together is structural, not luck
    val pairs = Dedup.minHashNearDupPairs(docs, "doc_id", "text", threshold = 0.7,
      numHashes = 128, bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // fixture sanity: adjacent chain links pair, chain ends do not
    (0 until 7).foreach(i => assert(pairs.contains((10L + i, 11L + i)),
      s"chain link $i missing from pairs: $pairs"))
    assert(!pairs.contains((10L, 17L)), s"chain ends must NOT pair directly: $pairs")
    // one-pass dedup keeps a doc whenever no DIRECT pair dominates it;
    // transitive dedup must collapse the whole chain to its minimum
    val kept = Dedup.dedupTransitiveByPairs(docs, "doc_id",
      Dedup.minHashNearDupPairs(docs, "doc_id", "text", threshold = 0.7,
        numHashes = 128, bands = 32))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(10L), s"chain minimum must survive: $kept")
    assert((11L until 18L).forall(i => !kept.contains(i)),
      s"chain must keep EXACTLY one: $kept")
    assert(kept.contains(900L) && kept.contains(901L),
      s"isolated docs must survive: $kept")
    assert(kept.size == 3, s"expected {10, 900, 901}: $kept")
  }
}
