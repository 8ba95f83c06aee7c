package graft.dedup

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = TestSpark.table("documents")

  /** Exact all-pairs Jaccard ground truth via shingle sets. */
  private def bruteforcePairs(threshold: Double) = {
    val sets = docs.select($"doc_id".as("id"),
      graft.functions.shingle_set($"text", 3).as("sh"))
    val a = sets.select($"id".as("id_a"), $"sh".as("sh_a"))
    val b = sets.select($"id".as("id_b"), $"sh".as("sh_b"))
    a.crossJoin(b).filter($"id_a" < $"id_b")
      .withColumn("j", Dedup.jaccard($"sh_a", $"sh_b"))
      .filter($"j" >= threshold)
      .select("id_a", "id_b")
  }

  test("exact dedup finds injected duplicates and only them") {
    val doubled = docs.select("doc_id", "text").unionByName(
      docs.select(($"doc_id" + 100000).as("doc_id"), $"text"))
    val groups = Dedup.exactGroups(doubled, "doc_id", "text")
    assert(groups.count() === docs.count()) // every text appears twice -> one group each
    assert(groups.filter($"n_dups" =!= 2).count() === 0)
    val kept = Dedup.dropExactDups(doubled, "doc_id", "text")
    assert(kept.count() === docs.count())
    assert(kept.filter($"doc_id" >= 100000).count() === 0) // keeps lowest id
  }

  test("LSH near-dup pairs achieve full recall vs brute force at 0.9") {
    val truth = bruteforcePairs(0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "corpus should contain planted near-dups")
    val got = Dedup.nearDupPairs(docs, "doc_id", "text", 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === truth)
  }

  test("cross-corpus near-dup join equals the parity-filtered brute force") {
    val truth = bruteforcePairs(0.9)
      .filter($"id_a" % 2 === 0 && $"id_b" % 2 === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force uses id_a < id_b; the cross join is (even) × (odd)
    // in both orders — mirror the reversed-parity pairs
    val truthRev = bruteforcePairs(0.9)
      .filter($"id_a" % 2 === 1 && $"id_b" % 2 === 0)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    val want = truth ++ truthRev
    assert(want.nonEmpty, "parity split should straddle a planted cluster")
    val got = Dedup.crossNearDupPairs(
        docs.filter($"doc_id" % 2 === 0), "doc_id", "text",
        docs.filter($"doc_id" % 2 === 1), "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
  }

  test("cross join vs parquet-round-tripped signatures equals the text form") {
    val left = docs.filter($"doc_id" % 2 === 0)
    val right = docs.filter($"doc_id" % 2 === 1)
    val want = Dedup.crossNearDupPairs(left, "doc_id", "text",
      right, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("sigs").toString
    try {
      Dedup.nearDupSignatures(right, "doc_id", "text")
        .write.mode("overwrite").parquet(dir)
      val sigs = spark.read.parquet(dir)
      assert(sigs.columns.toSet === Set("id", "bands", "sh")) // no text
      val got = Dedup.crossNearDupPairsVsSignatures(left, "doc_id", "text",
        sigs, 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("cross-corpus join: per-side bucket cap drops degenerate buckets observably") {
    // left: a 30-doc degenerate cluster (over cap) + one normal doc
    // that still finds its twin — the surviving pair keeps the plan
    // from collapsing to an empty relation (which would elide the
    // observe node entirely)
    val left = ((1L to 30L).map(i => (i, "identical text content here")) :+
      (99L, "unique alpha beta gamma delta")).toDF("doc_id", "text")
    val right = ((31L to 60L).map(i => (i, "identical text content here")) :+
      (199L, "unique alpha beta gamma delta")).toDF("doc_id", "text")
    val obs = new org.apache.spark.sql.Observation("xdrops")
    val got = Dedup.crossNearDupPairs(left, "doc_id", "text",
      right, "doc_id", "text", 0.9, maxBucket = 10, obs = Some(obs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((99L, 199L))) // degenerate cluster never expands
    assert(obs.get("dropped_rows").asInstanceOf[Long] > 0L)
  }

  test("simhash pairs are a subset of true low-hamming pairs and catch exact dups") {
    val doubled = docs.select("doc_id", "text").unionByName(
      docs.select(($"doc_id" + 100000).as("doc_id"), $"text"))
    val pairs = Dedup.simhashPairs(doubled, "doc_id", "text", maxHamming = 3)
    // every identity pair (d, d+100000) must be found: identical text ->
    // identical simhash -> same bucket, hamming 0
    val identity = pairs.filter($"id_b" === $"id_a" + 100000 && $"hamming" === 0)
    assert(identity.count() >= docs.count())
  }

  test("cosineDupPairs finds identical vectors") {
    val e = TestSpark.table("embeddings").select("vec_id", "embedding").limit(50)
    val doubled = e.unionByName(
      e.select(($"vec_id" + 100000).as("vec_id"), $"embedding"))
    val pairs = Dedup.cosineDupPairs(doubled, "vec_id", "embedding", 0.999)
    assert(pairs.filter($"id_b" === $"id_a" + 100000).count() === 50)
  }

  test("cosineDupPairsLsh matches the exact O(n²) pairs on planted dups") {
    val e = TestSpark.table("embeddings").select("vec_id", "embedding").limit(50)
    val doubled = e.unionByName(
      e.select(($"vec_id" + 100000).as("vec_id"), $"embedding"))
    val exact = Dedup.cosineDupPairs(doubled, "vec_id", "embedding", 0.999)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.cosineDupPairsLsh(doubled, "vec_id", "embedding", 0.999)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact) // identical vectors collide in every table
    assert(lsh.size === 50)
  }

  test("oversized buckets are dropped AND counted via the Observation hook") {
    // 5 ids in one degenerate bucket (cap 3) + 2 ids in a healthy bucket
    val bucketed = ((1 to 5).map(i => (0, 0L, i.toLong)) ++
      Seq((0, 1L, 10L), (0, 1L, 11L)))
      .toDF("table", "bucket", "id")
    val obs = new org.apache.spark.sql.Observation("drops")
    val pairs = Dedup.pairsFromBuckets(bucketed, Seq("table", "bucket"),
      maxBucket = 3, obs = Some(obs)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((10L, 11L))) // degenerate bucket never expanded
    assert(obs.get("dropped_rows") === 5L)
    assert(obs.get("max_bucket_size") === 5L)
  }

  test("simhashPairs rejects maxHamming outside the full-recall range") {
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)
    }
    assert(e.getMessage.contains("[0, 7]"))
  }

  test("jaccardToProbe bounds and exact value") {
    val out = Dedup.jaccardToProbe(docs, "doc_id", "text", Seq("data", "table"))
    val vals = out.select("jaccard").collect().map(_.getDouble(0))
    assert(vals.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("containmentPairs: planted quote scores 1.0 one-way, Jaccard-low") {
    // doc 2 contains doc 1 verbatim inside much longer text: full
    // containment 1→2, partial 2→1, and a Jaccard far below 0.9
    val quote = "alpha beta gamma delta epsilon zeta"
    val host = s"intro words here $quote and then a very long tail " +
      (1 to 40).map(i => s"tail$i").mkString(" ")
    val planted = Seq((1L, quote), (2L, host), (3L, "unrelated text entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(planted, "doc_id", "text",
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) === 1.0, pairs.toString)
    assert(!pairs.contains((2L, 1L)), "reverse direction must stay below 0.9")
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // and the symmetric-Jaccard pipeline indeed misses the pair
    val jac = Dedup.nearDupPairs(planted, "doc_id", "text", threshold = 0.9)
      .collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("containment stage-1 broadcast choice is byte-aware at planted sizes") {
    // ~80 kept shingles/doc: 10⁶ docs ≈ 337 MB — under the 400 MB
    // default ceiling, broadcasts; 10⁷ docs ≈ 3.3 GB — does not
    assert(Dedup.stage1HashRelationBytes(1000000L, 80000000L) <= (400L << 20))
    assert(Dedup.stage1HashRelationBytes(10000000L, 800000000L) > (400L << 20))
    // forced-shuffle (ceiling 0) and auto-broadcast paths are identical
    val forced = Dedup.containmentPairs(docs, "doc_id", "text",
      threshold = 0.8, stage1BroadcastBytes = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val auto = Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(forced === auto)
    assert(auto.nonEmpty)
  }

  test("containmentPairs: hot-shingle cap drops are observed, never inflate") {
    val obs = org.apache.spark.sql.Observation("contain-guard")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
      threshold = 0.8, maxShingleDf = 2, obs = Some(obs))
    val n = out.count()
    val m = obs.get
    assert(m("max_shingle_df").asInstanceOf[Long] >= 2L)
    // capped run can only UNDERESTIMATE: every surviving pair must also
    // be in the uncapped result
    val full = Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = out.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(full), s"capped added pairs: ${capped -- full}")
    assert(n === capped.size.toLong)
  }

  test("chunkDupStats: cross-doc repeats count, within-doc repeats alone don't") {
    val w = (1 to 32).map(i => s"w$i").mkString(" ") // two full 16-token chunks
    val docs = Seq(
      (1L, w),           // chunks A B
      (2L, w),           // exact copy: both chunks duplicated
      (3L, (1 to 16).map(i => s"w$i").mkString(" ") + " " +
           (1 to 16).map(i => s"w$i").mkString(" ")), // chunk A twice, SAME doc
      (4L, (101 to 132).map(i => s"u$i").mkString(" ")) // unique everywhere
    ).toDF("doc_id", "text")
    val stats = Dedup.chunkDupStats(docs, "doc_id", "text", size = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(stats(1L) === ((2L, 2L, 1.0)), stats.toString) // fully mirrored
    assert(stats(2L) === ((2L, 2L, 1.0)))
    // doc 3's chunk A is duplicated because docs 1/2 also contain it;
    // chunk-level df is DISTINCT docs, so its within-doc repetition is
    // not what triggers it — both its chunks match docs 1/2's chunk A
    assert(stats(3L)._1 === 2L && stats(3L)._2 === 2L)
    assert(stats(4L) === ((2L, 0L, 0.0)), "unique doc must report 0 dups")
    // within-doc-only repetition: alone in the corpus → no dup chunks
    val solo = Seq((9L, (1 to 16).map(i => s"x$i").mkString(" ") + " " +
      (1 to 16).map(i => s"x$i").mkString(" "))).toDF("doc_id", "text")
    val soloStats = Dedup.chunkDupStats(solo, "doc_id", "text", size = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(soloStats(9L) === 0L, "within-doc repeat alone is not a cross-doc dup")
  }

  test("semanticDupPairs: finds planted copies, pairs only within clusters") {
    val e = TestSpark.table("embeddings").select("vec_id", "embedding")
    val doubled = e.unionByName(
      e.withColumn("vec_id", $"vec_id" + lit(100000L)))
    val pairs = Dedup.semanticDupPairs(doubled, "vec_id", "embedding",
      k = 8, threshold = 0.999)
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // a vector and its offset copy have cosine exactly 1 and identical
    // seed-assignment argmax inputs → same cluster → every planted
    // pair is found (recall 1.0 on the planted set)
    val planted = e.select("vec_id").collect()
      .map(_.getLong(0)).map(id => (id, id + 100000L)).toSet
    assert(planted.subsetOf(got),
      s"missed ${planted.size - (planted & got).size} of ${planted.size} planted pairs")
    // ids ordered, cosine thresholded
    val rows = pairs.collect()
    assert(rows.forall(r => r.getLong(1) < r.getLong(2)))
    assert(rows.forall(r => r.getDouble(3) >= 0.999))
    // precision is exact: every reported pair is also in the exact
    // O(n²) sweep at the same threshold (cluster bounding only PRUNES)
    val exact = Dedup.cosineDupPairs(doubled, "vec_id", "embedding", 0.999)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact), s"semantic pairs not in exact sweep: ${got -- exact}")
  }

  test("dropExactDups: NULL-id rows pass through undeduplicated (pinned semantics)") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), "same text"), (Some(2L), "same text"),
      (Option.empty[Long], "same text"), (Option.empty[Long], "same text"),
      (Some(3L), "other text")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropExactDups(df, "doc_id", "text")
      .collect().map(r => Option(r.getAs[Any]("doc_id"))).toSeq
    // id 2 is the only victim; BOTH null-id rows survive — a row
    // without an identity can be neither keeper nor victim
    assert(kept.count(_.isEmpty) === 2)
    assert(kept.flatten.map(_.asInstanceOf[Long]).sorted === Seq(1L, 3L))
  }

  test("tuneBands: one row per divisor split, areas replay the S-curve") {
    val rows = Dedup.tuneBands(spark, sigLen = 32, threshold = 0.9)
      .collect().map(r => (r.getAs[Int]("b"), r.getAs[Int]("r"),
        r.getAs[Double]("fp_area"), r.getAs[Double]("fn_area"),
        r.getAs[Double]("cost")))
    assert(rows.map(t => (t._1, t._2)).toSet ===
      Set((1, 32), (2, 16), (4, 8), (8, 4), (16, 2), (32, 1)))
    // replay one plan's areas from scratch (the (4,8) point)
    val (fpW, fnW) = {
      val pts = (1 until 100).map { i =>
        val s = i / 100.0
        val p = BigDecimal(1 - math.pow(1 - math.pow(s, 8), 4))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        (s, p)
      }
      (BigDecimal(pts.filter(_._1 < 0.9).map(_._2).sum / 100)
         .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
       BigDecimal(pts.filter(_._1 >= 0.9).map(p => 1 - p._2).sum / 100)
         .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val p48 = rows.find(t => t._1 == 4 && t._2 == 8).get
    assert(math.abs(p48._3 - fpW) < 2e-6 && math.abs(p48._4 - fnW) < 2e-6)
    // more bands = more candidates: fp_area strictly grows with b,
    // fn_area shrinks — the trade the tuner exists to price
    val byB = rows.sortBy(_._1)
    assert(byB.map(_._3).sliding(2).forall(w => w(0) <= w(1)))
    assert(byB.map(_._4).sliding(2).forall(w => w(0) >= w(1)))
    // at t = 0.9: cost-argmin is (2,16); the engine's (8,4) default is
    // the RECALL-FIRST point — essentially zero missed dups
    assert(rows.minBy(_._5)._1 === 2)
    assert(rows.find(t => t._1 == 8 && t._2 == 4).get._4 <= 1e-5)
  }

  test("dupClusters keeps only the returned labels persisted, with no GC") {
    // a 6-node chain: the minimum label moves one hop per round, so
    // propagation takes 5 rounds plus the round that sees no change
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val clusters = Dedup.dupClusters(chain)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size === 1, s"persisted by dupClusters: $added")
    assert(clusters.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      (1L to 6L).map(_ -> 1L).toSet)
  }
}
