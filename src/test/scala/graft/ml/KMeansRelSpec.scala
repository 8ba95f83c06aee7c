package graft.ml

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KMeansRelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val vecs = TestSpark.table("embeddings")

  /** Well-separated planted clusters: three tight blobs on distinct
    * axes — Lloyd must recover the partition regardless of which
    * seeds the md5 draw picks. */
  private def blobs = {
    val rows = for {
      (center, base) <- Seq(
        (Array(10.0, 0.0, 0.0), 0L),
        (Array(0.0, 10.0, 0.0), 100L),
        (Array(0.0, 0.0, 10.0), 200L))
      i <- 0 until 20
    } yield (base + i, center.zipWithIndex.map { case (c, d) =>
      c + 0.01 * ((i * 7 + d) % 5)
    })
    rows.toDF("id", "v")
  }

  test("Pq.fit equals m independent per-slice fits bit-for-bit") {
    // real embeddings, m=4 subspaces, 2 Lloyd rounds: the production
    // path (one shared full-vector seed draw, sliced, + Par-overlapped
    // per-subspace Lloyd loops) must reproduce each independent
    // per-slice fit exactly — seeds, assignments, and the grid-rounded
    // decimal cell means
    val (m, kCodes, iters) = (4, 8, 2)
    val dim = vecs.select(size(col("embedding"))).head().getInt(0)
    val subDim = dim / m
    val separate = (0 until m).map { s =>
      val sub = vecs.select(col("vec_id"),
        slice(col("embedding").cast("array<double>"),
          s * subDim + 1, subDim).as("__sub"))
      KMeansRel.fitCentroids(sub, "vec_id", "__sub", kCodes, iters)
    }
    val prod = graft.sim.Pq.fit(vecs, "vec_id", "embedding",
      m, kCodes, iters)
    assert(prod.subDim == subDim)
    assert(prod.books.length == m)
    (0 until m).foreach { s =>
      assert(prod.books(s).map(_.toSeq).toSeq ==
        separate(s).map(_.toSeq).toSeq,
        s"subspace $s: Pq.fit diverges from the independent fit")
    }
  }

  test("recovers well-separated planted blobs exactly") {
    val asg = KMeansRel.fitAssign(blobs, "id", "v", k = 3, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asg.size === 60)
    // every blob lands in ONE cluster, and distinct blobs in distinct ones
    val byBlob = asg.groupBy(_._1 / 100).map { case (b, m) =>
      b -> m.values.toSet
    }
    assert(byBlob.values.forall(_.size === 1), s"split blob: $byBlob")
    assert(byBlob.values.flatten.toSet.size === 3, s"merged blobs: $byBlob")
  }

  test("iters=0 assigns to the raw md5 seeds; d2 for a seed is 0") {
    val asg = KMeansRel.fitAssign(vecs, "vec_id", "embedding",
      k = 8, iters = 0)
    assert(asg.count() === vecs.count())
    // the 8 seed vectors are their own nearest centroid at distance 0
    assert(asg.filter($"d2" === 0.0).count() >= 8)
  }

  test("fit is deterministic across runs and repartitionings") {
    val a = KMeansRel.fit(vecs, "vec_id", "embedding", k = 5, iters = 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSet
    val b = KMeansRel.fit(vecs.repartition(13), "vec_id", "embedding",
      k = 5, iters = 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSet
    assert(a === b)
  }

  test("empty cluster keeps its previous centroid") {
    // two far blobs + one seed vector isolated BETWEEN them can lose
    // all points after round 1; k=3 over 2 natural clusters forces at
    // least one centroid to either merge or go empty — the fit must
    // still return k centroid rows either way.
    val c = KMeansRel.fit(blobs, "id", "v", k = 3, iters = 4)
    assert(c.count() === 3)
    assert(c.filter($"centroid".isNull).count() === 0)
  }

  test("Lloyd iterations never increase total inertia") {
    val inertias = (0 to 3).map { it =>
      KMeansRel.fitAssign(vecs, "vec_id", "embedding", k = 8, iters = it)
        .agg(sum($"d2")).head().getDouble(0)
    }
    inertias.sliding(2).foreach { case Seq(prev, next) =>
      assert(next <= prev + 1e-6, s"inertia rose: $inertias")
    }
  }

  test("kmeans centroids drive semanticDupPairsWith (SemDeDup bridge)") {
    val e = vecs.select("vec_id", "embedding")
    val doubled = e.unionByName(
      e.withColumn("vec_id", $"vec_id" + lit(100000L)))
    val centroids = KMeansRel.fit(doubled, "vec_id", "embedding",
      k = 8, iters = 2)
    val pairs = graft.dedup.Dedup.semanticDupPairsWith(
      doubled, "vec_id", "embedding", centroids, threshold = 0.999)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // identical copies always share a cluster (same argmax) -> all
    // n planted pairs found
    val planted = e.select("vec_id").collect()
      .map(_.getLong(0)).map(i => (i, i + 100000L)).toSet
    assert(planted.subsetOf(pairs),
      s"missing ${planted.diff(pairs).size} planted pairs")
  }
}
