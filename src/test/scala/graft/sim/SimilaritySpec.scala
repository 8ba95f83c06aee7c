package graft.sim

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = TestSpark.table("embeddings")

  // driver-side replay material for the in-cell brute-force checks
  private lazy val vecs: Map[Long, Array[Double]] =
    emb.select($"vec_id", $"embedding".cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
  private def cells(nClusters: Int): Map[Long, Long] =
    Similarity.seedAssign(emb, "vec_id", "embedding", nClusters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  test("cosine of a vector with itself is 1") {
    val self = emb.limit(5)
      .select(round(Similarity.cosine($"embedding", $"embedding"), 6).as("c"))
      .collect().map(_.getDouble(0))
    assert(self.forall(_ === 1.0))
  }

  test("brute-force top-k: probe ranks first, k rows, descending") {
    val probe = emb.filter($"vec_id" === 0)
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probe, 10)
      .collect()
    assert(top.length === 10)
    assert(top.head.getLong(0) === 0L) // the probe itself
    assert(top.head.getDouble(1) === 1.0)
    val cos = top.map(_.getDouble(1))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
  }

  test("ANN top-k has decent recall vs brute force") {
    val probe = emb.filter($"vec_id" === 0)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probe, 10)
      .collect().map(_.getLong(0)).toSet
    val ann = Similarity.annTopK(emb, "vec_id", "embedding", probe,
      k = 10, bits = 8, dim = 64, multiprobe = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & ann).size / 10.0
    assert(ann.contains(0L), "probe must be its own neighbor")
    assert(recall >= 0.3, s"recall $recall") // LSH on random gaussians is hard;
    // the contract is candidate-set pruning + exact re-rank, not exact top-k
  }

  test("closestMatch: minimum Levenshtein candidate, ties to lexicographic first") {
    val df = Seq("kitten", "abcd").toDF("w")
    val out = Similarity.closestMatch(df, "w", Seq("sitting", "mitten", "abce", "abcf"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out("kitten") === (("mitten", 1L)))
    assert(out("abcd") === (("abce", 1L))) // tie abce/abcf at dist 1 → lexicographic
  }

  test("IVF top-k: probe found, high recall vs brute force, bounded scan") {
    val probe = emb.filter($"vec_id" === 0)
    val model = Similarity.ivfFit(emb, "embedding", nlist = 8)
    assert(model.nlist === 8)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probe, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", probe,
      k = 10, model, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.contains(0L), "probe must be its own neighbor")
    val recall = (exact & ivf).size / 10.0
    assert(recall >= 0.3, s"recall $recall")
    // candidate set is genuinely pruned: cells partition the corpus
    val cellSizes = emb
      .select(Similarity.ivfCell($"embedding", model).as("c"))
      .groupBy("c").count().collect()
    assert(cellSizes.length === 8)
    assert(cellSizes.map(_.getLong(1)).sum === emb.count())
  }

  test("indexed ANN probe returns exactly the scan-formulation result") {
    val probe = emb.filter($"vec_id" === 0)
    val path = java.nio.file.Files.createTempDirectory("ann_idx").toString + "/idx"
    val scan = Similarity.annTopK(emb, "vec_id", "embedding", probe,
      k = 10, bits = 8, dim = 64, multiprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = Similarity.annTopKIndexed(spark, emb, "vec_id", "embedding",
      probe, k = 10, bits = 8, dim = 64, multiprobe = 2, path)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed === scan)
    // second probe serves the committed index (no rebuild): still equal
    val again = Similarity.annTopKIndexed(spark, emb, "vec_id", "embedding",
      probe, k = 10, bits = 8, dim = 64, multiprobe = 2, path)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(again === scan)
  }

  test("indexed probes accept an array<double> corpus (not just float)") {
    val dEmb = emb.withColumn("embedding", $"embedding".cast("array<double>"))
    val probe = dEmb.filter($"vec_id" === 0)
    val path = java.nio.file.Files.createTempDirectory("ann_idx_d").toString + "/idx"
    // must not ClassCastException collecting the probe row; results must
    // rank the probe first like the float path
    val top = Similarity.annTopKIndexed(spark, dEmb, "vec_id", "embedding",
      probe, k = 10, bits = 8, dim = 64, multiprobe = 2, path)
      .collect()
    assert(top.length === 10)
    assert(top.head.getLong(0) === 0L)
    assert(top.head.getDouble(1) === 1.0)
  }

  test("indexed IVF probe returns exactly the unindexed result") {
    val probe = emb.filter($"vec_id" === 0)
    val model = Similarity.ivfFitSample(emb, "vec_id", "embedding", nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("ivf_idx").toString + "/idx"
    val plain = Similarity.ivfTopK(emb, "vec_id", "embedding", probe,
      k = 10, model, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = Similarity.ivfTopKIndexed(spark, emb, "vec_id", "embedding",
      probe, k = 10, model, nprobe = 4, path)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed === plain)
  }

  test("appended vectors are visible to the next indexed probe without a rebuild") {
    val probe = emb.filter($"vec_id" === 0)
    val first = emb.filter($"vec_id" < 100)
    val rest = emb.filter($"vec_id" >= 100)
    val path = java.nio.file.Files.createTempDirectory("ann_app").toString + "/idx"
    // build on the first half only
    Similarity.annTopKIndexed(spark, first, "vec_id", "embedding",
      probe, k = 10, bits = 8, dim = 64, multiprobe = 2, path).collect()
    // append the rest; probe must now equal the full-corpus scan result
    Similarity.appendToAnnIndex(rest, "vec_id", "embedding", path, bits = 8, dim = 64)
    val indexed = Similarity.annTopKIndexed(spark, first, "vec_id", "embedding",
      probe, k = 10, bits = 8, dim = 64, multiprobe = 2, path)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val scan = Similarity.annTopK(emb, "vec_id", "embedding", probe,
      k = 10, bits = 8, dim = 64, multiprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed === scan)
  }

  test("IVF append: new vectors visible to the next pruned probe, same centroids") {
    val probe = emb.filter($"vec_id" === 0)
    val model = Similarity.ivfFitSample(emb, "vec_id", "embedding", nlist = 8)
    val first = emb.filter($"vec_id" < 100)
    val rest = emb.filter($"vec_id" >= 100)
    val path = java.nio.file.Files.createTempDirectory("ivf_app").toString + "/idx"
    Similarity.ivfTopKIndexed(spark, first, "vec_id", "embedding",
      probe, k = 10, model, nprobe = 4, path).collect() // build on first half
    Similarity.appendToIvfIndex(rest, "vec_id", "embedding", path, model)
    val indexed = Similarity.ivfTopKIndexed(spark, first, "vec_id", "embedding",
        probe, k = 10, model, nprobe = 4, path)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val plain = Similarity.ivfTopK(emb, "vec_id", "embedding", probe,
        k = 10, model, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed === plain)
  }

  test("streaming ANN ingest: probe sees old+new, stream ≡ batch, replay is idempotent") {
    val tmp = java.nio.file.Files.createTempDirectory("ann_stream").toString
    val src = s"$tmp/src"
    val path = s"$tmp/idx"
    val probe = emb.filter($"vec_id" === 0)
    val first = emb.filter($"vec_id" < 100)
    val rest = emb.filter($"vec_id" >= 100)
    def probeIdx() = Similarity.annTopKIndexed(spark, first, "vec_id",
        "embedding", probe, k = 10, bits = 8, dim = 64, multiprobe = 2, path)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // seed the index with the first half (batch face)
    probeIdx()
    // land the remainder as a stream delivery, drain, re-probe
    rest.write.parquet(src)
    Similarity.appendToAnnIndexStream(spark, src, emb, "vec_id", "embedding",
      path, bits = 8, dim = 64, "ann_ingest", Some(s"$tmp/ck1"))
      .awaitTermination()
    val indexed = probeIdx()
    val scan = Similarity.annTopK(emb, "vec_id", "embedding", probe,
        k = 10, bits = 8, dim = 64, multiprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed === scan) // stream-ingested ≡ batch full-corpus
    val rows = spark.read.parquet(path).count()
    assert(rows === emb.count())
    // REPLAY: fresh checkpoint, same lineage name → batch 0 re-fires
    // with already-applied data; the marker must skip it (no dupes)
    Similarity.appendToAnnIndexStream(spark, src, emb, "vec_id", "embedding",
      path, bits = 8, dim = 64, "ann_ingest", Some(s"$tmp/ck2"))
      .awaitTermination()
    assert(spark.read.parquet(path).count() === rows)
    assert(probeIdx() === indexed)
  }

  test("bucketsWithin enumerates the exact hamming ball") {
    val got = Similarity.bucketsWithin(0L, 4, 1).toSet
    assert(got === Set(0L, 1L, 2L, 4L, 8L))
    val r2 = Similarity.bucketsWithin(5L, 3, 2).toSet
    // ball of radius 2 around 101b within 3 bits: C(3,0)+C(3,1)+C(3,2)=7
    assert(r2.size === 7 && r2.contains(5L))
  }

  test("lshBucket is deterministic and bounded") {
    val b = emb.select(Similarity.lshBucket($"embedding", 12, 64).as("b"))
    val vals = b.collect().map(_.getLong(0))
    assert(vals.forall(v => v >= 0 && v < (1L << 12)))
    val again = emb.select(Similarity.lshBucket($"embedding", 12, 64).as("b"))
      .collect().map(_.getLong(0))
    assert(vals.toSeq === again.toSeq)
  }

  /** knnJoin at `nClusters`, checked: every query matches itself at
    * rank 1, and brute force within the same cells reproduces the
    * rank-2 pick. Returns the collected frame (its executed plan is
    * the final one). */
  private def knnJoinParity(nClusters: Int): org.apache.spark.sql.DataFrame = {
    val queries = emb.filter($"vec_id" % 25 === 0)
    val got = Similarity.knnJoin(queries, "vec_id", emb, "vec_id",
      "embedding", nClusters = nClusters, k = 3)
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // every query matches itself first at cosine 1.0
    val r1 = rows.filter(_._4 == 1L)
    assert(r1.length === queries.count())
    assert(r1.forall { case (q, n, c, _) => q == n && c == 1.0 })
    // brute-force within the same cells reproduces the rank-2 pick
    val cell = cells(nClusters)
    rows.filter(_._4 == 2L).foreach { case (q, n, c, _) =>
      val best = vecs.keys
        .filter(o => o != q && cell(o) == cell(q))
        .map(o => (-cos(vecs(q), vecs(o)), o)).min
      assert(best._2 == n || math.abs(-best._1 - c) < 1e-9,
        s"query $q: got $n want ${best._2}")
    }
    got
  }

  /** hardNegatives at `nClusters`, checked: never same-label, dense
    * ranks, and brute force inside the same cells agrees on the top
    * pick. Returns the collected frame. */
  private def hardNegativesParity(
      nClusters: Int): org.apache.spark.sql.DataFrame = {
    val k = 5
    val got = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      nClusters = nClusters, k = k)
    val labels = emb.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // no anchor ever paired with its own label, ranks are 1..<=k dense
    assert(rows.forall { case (a, n, _) => labels(a) != labels(n) })
    val byAnchor = rows.groupBy(_._1)
    assert(byAnchor.values.forall { rs =>
      rs.map(_._3).sorted.toSeq == (1L to rs.length.toLong)
    })
    // brute-force replay inside the same cells agrees on the top pick
    val cell = cells(nClusters)
    val top = rows.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    top.foreach { case (a, n) =>
      val best = vecs.keys.filter(o => o != a && cell(o) == cell(a) &&
          labels(o) != labels(a))
        .map(o => (-cos(vecs(a), vecs(o)), o)).minOption
      assert(best.exists(_._2 == n) ||
        best.exists { case (c, o) => cos(vecs(a), vecs(n)) >= -c - 1e-12 },
        s"anchor $a: got $n want ${best.map(_._2)}")
    }
    got
  }

  test("knnJoin: self-match at rank 1, in-cell brute-force parity") {
    knnJoinParity(4)
  }

  test("hardNegatives: never same-label, matches in-cluster brute force") {
    hardNegativesParity(4)
  }

  test("2 clusters at 4 cores take the salted join: __slice key, in-cell parity") {
    // slices = defaultParallelism / nClusters = 4 / 2, so both joins
    // run the salted branch — at nClusters >= 4 (every other test and
    // Verify query) local[4] collapses it to the plain cluster join
    assert(spark.sparkContext.defaultParallelism / 2 === 2)
    val plans = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    Seq(knnJoinParity(2), hardNegativesParity(2)).foreach { got =>
      val plan = got.queryExecution.executedPlan
      val joinKeys = plans.collect(plan) {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          j.leftKeys.flatMap(_.references.map(_.name)).toSet
      }
      assert(joinKeys.contains(Set("cluster", "__slice")), plan.toString)
    }
  }

  test("coarse two-level assignment is total, valid, and deterministic") {
    val k = 16
    val seeds = Similarity.seedsOf(emb, "vec_id", "embedding", k)
      .collect().map(_.getLong(0)).toSet
    val coarse = Similarity.seedAssign(emb, "vec_id", "embedding", k,
      nCoarse = 4)
    val rows = coarse.collect().map(r => r.getLong(0) -> r.getLong(1))
    // total: every vector assigned exactly once
    assert(rows.length === emb.count())
    assert(rows.map(_._1).distinct.length === rows.length)
    // valid: every cluster is one of the k seed ids
    assert(rows.forall { case (_, c) => seeds.contains(c) })
    // deterministic: a second run is identical
    val again = Similarity.seedAssign(emb, "vec_id", "embedding", k,
      nCoarse = 4).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.sorted.toSeq === again.sorted.toSeq)
  }

  test("coarse assignment equals exact assignment on well-separated cells") {
    // orthogonal one-hot groups: every vector's nearest seed is in its
    // own coarse cell by construction, so the two-level path must
    // reproduce exact assignment bit-for-bit
    val dim = 8
    val data = (0L until 64L).map { i =>
      val g = (i % 4).toInt // 4 orthogonal directions
      val v = Array.fill(dim)(0.001f)
      v(g) = 1.0f + (i / 4 % 3) * 0.01f
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    val exact = Similarity.seedAssign(data, "vec_id", "embedding", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    val twoLevel = Similarity.seedAssign(data, "vec_id", "embedding", 8,
        nCoarse = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    // sanity: coarse landed every vector on SOME seed of the same run
    assert(twoLevel.length === exact.length)
    // on separated data the approximation is exact
    val agree = exact.zip(twoLevel).count { case (a, b) => a == b }
    assert(agree === exact.length,
      s"coarse diverged on separated cells: $agree/${exact.length}")
  }

  test("CoarseAuto: pure threshold rule, and the default routes to it") {
    // the rule is a pure function of the seed count — statically
    // replayable by an oracle, no data probe
    assert(Similarity.autoNCoarse(4) === 0)
    assert(Similarity.autoNCoarse(Similarity.AutoCoarseMinSeeds - 1) === 0)
    assert(Similarity.autoNCoarse(128) === 12) // ceil(sqrt(128)) = 12
    assert(Similarity.autoNCoarse(10000) === 100)
    // below the threshold the DEFAULT call must be exactly the exact
    // path (the green-query guarantee: q161/q167/q158 keep their
    // oracles with no knob set)
    val exact = Similarity.seedAssign(emb, "vec_id", "embedding", 8,
        nCoarse = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    val auto = Similarity.seedAssign(emb, "vec_id", "embedding", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    assert(auto === exact)
    // at/above the threshold the default takes the two-level path:
    // identical to the same explicit nCoarse call
    val k = Similarity.AutoCoarseMinSeeds
    val viaAuto = Similarity.seedAssign(emb, "vec_id", "embedding", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    val viaExplicit = Similarity.seedAssign(emb, "vec_id", "embedding", k,
        nCoarse = Similarity.autoNCoarse(k))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    assert(viaAuto === viaExplicit)
  }

  test("hard negatives via coarse assignment: k rows per anchor, different labels") {
    val hn = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      nClusters = 8, k = 3, nCoarse = 3)
    val labels = emb.select($"vec_id", $"label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = hn.select($"vec_id", $"neg_id", $"rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // ≤ k negatives per anchor, ranks 1..n contiguous
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.length <= 3)
      assert(g.map(_._3).sorted.toSeq === (1L to g.length))
    }
    // every negative carries a different label than its anchor
    assert(rows.forall { case (a, n, _) => labels(a) != labels(n) })
  }
}
