package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sim.Similarity

/** Deterministic relational k-means — Lloyd's algorithm expressed as a
  * fixed number of DataFrame rounds, with every arithmetic step pinned
  * to an engine-portable form so an external SQL engine replays the
  * whole fit bit-for-bit. This is the clustering face the reference's
  * `machineLearning.py` KMeans consumer needs (cluster assignment +
  * per-point distance), and the centroid producer
  * [[graft.dedup.Dedup.semanticDupPairsWith]] consumes for
  * production-shape SemDeDup (assign → intra-cluster pair scan).
  *
  * Why not `spark.ml.clustering.KMeans` (which [[Similarity.ivfFit]]
  * already wraps)? Its fit is seed-dependent and engine-private — fine
  * for IVF centroid quality, useless when the *assignment itself* is
  * the data product that must be reproducible across engines and
  * re-runs (training-data curation: the cluster column written today
  * must be recomputable next year). Determinism contract:
  *
  *  - Init: the k corpus vectors with the lexicographically smallest
  *    `(md5(id), id)` — the repo's portable pseudo-random draw
  *    (`TakeOrdered` heap selection, no global sort).
  *  - Assignment: argmin over clusters of ⟨c,c⟩ − 2⟨v,c⟩ (the
  *    [[Similarity.ivfCell]] expanded form — left-to-right
  *    [[graft.functions.vec_dot]] folds are bit-comparable with SQL
  *    engines' `list_dot_product`), ties to the lower cluster id.
  *  - Update: per-(cluster, dim) mean with the sum accumulated in
  *    DECIMAL(38,12) (order-independent, so partial-aggregation
  *    plans can't perturb it) and the mean rounded to a 9-decimal
  *    grid before the next round — each round's centroids are exact
  *    rational points both engines agree on.
  *  - A cluster that loses every point keeps its previous centroid.
  *
  * Scale shape, per round: the centroids live on the DRIVER as k×dim
  * doubles (model state, not data — the [[Similarity.ivfCell]]
  * design) and assignment embeds them as array literals, so it is a
  * pure whole-stage-codegen projection: zero joins, zero shuffles.
  * The update posexplodes to (cluster, dim, value) scalar cells — the
  * q117 idiom, vectors never shuffle whole — into a (k × dim)-sized
  * aggregate collected back to the driver. Each round is therefore
  * exactly one shuffle (the cell aggregate), and lineage never grows:
  * every round's plan reads the source relation directly.
  */
object KMeansRel {

  /** Final centroids after `iters` Lloyd rounds, as a k-row relation:
    * (cluster: 0..k-1 in seed order, centroid: array<double> on the
    * 9-decimal grid — except round 0's raw seed vectors, which are
    * the corpus's own). */
  def fit(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val cents = fitCentroids(vectors, idCol, vecCol, k, iters)
    val spark = vectors.sparkSession
    import spark.implicits._
    cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
  }

  /** [[fit]] as driver-side model state (index = cluster id). */
  def fitCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Array[Array[Double]] = {
    require(k >= 1, s"need k >= 1 clusters, got $k")
    require(iters >= 0, s"need iters >= 0, got $iters")
    val v = clean(vectors, idCol, vecCol)
    var cents = seedCentroids(v, idCol, k)
    for (_ <- 1 to iters) cents = step(v, cents)
    cents
  }

  /** The md5-ordered seed rows alone (the first half of
    * [[fitCentroids]]) — exposed so a product-quantizer fit can draw
    * ONE full-vector seed set and slice it per subspace (bit-identical
    * to per-subspace draws: the order is (md5(id), id), never vector
    * values). */
  private[graft] def seedsOf(vectors: DataFrame, idCol: String,
      vecCol: String, k: Int): Array[Array[Double]] = {
    require(k >= 1, s"need k >= 1 clusters, got $k")
    seedCentroids(clean(vectors, idCol, vecCol), idCol, k)
  }

  /** The Lloyd loop of [[fitCentroids]] from caller-supplied seeds —
    * the second half, for callers that shared the seed draw. */
  private[graft] def fitCentroidsFromSeeds(vectors: DataFrame,
      idCol: String, vecCol: String, seeds: Array[Array[Double]],
      iters: Int): Array[Array[Double]] = {
    require(iters >= 0, s"need iters >= 0, got $iters")
    val v = clean(vectors, idCol, vecCol)
    var cents = seeds
    for (_ <- 1 to iters) cents = step(v, cents)
    cents
  }

  /** Assignment under the fitted centroids: one row per input vector,
    * (idCol, cluster, d2) with d2 = full squared euclidean distance to
    * the assigned centroid, rounded to 6 places. A pure projection
    * over the source — the fit's shuffles happen while fitting, the
    * assignment itself is map-side. */
  def fitAssign(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val cents = fitCentroids(vectors, idCol, vecCol, k, iters)
    val v = clean(vectors, idCol, vecCol)
    // candidate structs ordered by (d, cluster): d = ⟨c,c⟩ − 2⟨v,c⟩;
    // d2full carried per candidate with the ORACLE's grouping
    // ((⟨v,v⟩ − 2⟨v,c⟩) + ⟨c,c⟩) — float addition isn't associative,
    // so the grouping is part of the cross-engine contract
    val vv = Similarity.dot(col("__v"), col("__v"))
    val best = array_min(array(cents.zipWithIndex.map { case (c, i) =>
      val cArr = array(c.toIndexedSeq.map(lit): _*)
      val c2 = lit(c.map(x => x * x).sum)
      val vc = Similarity.dot(col("__v"), cArr)
      struct((c2 - lit(2.0) * vc).as("d"), lit(i.toLong).as("i"),
        ((vv - lit(2.0) * vc) + c2).as("d2"))
    }.toIndexedSeq: _*))
    v.select(col(idCol), best.getField("i").as("cluster"),
      round(best.getField("d2"), 6).as("d2"))
  }

  private def clean(vectors: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    vectors.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))

  /** The k seed vectors in md5 order — `orderBy(...).limit(k)` is a
    * TakeOrdered distributed heap, NOT a global sort; the k winners
    * come back ordered, re-sorted driver-side defensively. */
  private def seedCentroids(v: DataFrame, idCol: String,
      k: Int): Array[Array[Double]] =
    v.select(md5(col(idCol).cast("string")).as("__h"),
        col(idCol).cast("string").as("__id"), col("__v"))
      .orderBy(col("__h"), col("__id"))
      .limit(k)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[Double](2).toArray))
      .sortBy { case (h, id, _) => (h, id) }
      .map(_._3)

  /** One Lloyd round: assignment projection (centroid literals) into
    * the per-(cluster, dim) grid-rounded decimal-exact mean aggregate;
    * the (≤ k·dim)-row result comes back to the driver and empty
    * clusters keep their old centroid. */
  private def step(v: DataFrame,
      cents: Array[Array[Double]]): Array[Array[Double]] = {
    val assign = array_min(array(cents.zipWithIndex.map { case (c, i) =>
      val cArr = array(c.toIndexedSeq.map(lit): _*)
      val c2 = lit(c.map(x => x * x).sum)
      struct((c2 - lit(2.0) * Similarity.dot(col("__v"), cArr)).as("d"),
        lit(i.toLong).as("i"))
    }.toIndexedSeq: _*)).getField("i")
    val cells = v.select(assign.as("__c"),
        posexplode(col("__v")).as(Seq("__p", "__e")))
      .groupBy(col("__c"), col("__p"))
      .agg(round(sum(col("__e").cast("decimal(38,12)")).cast("double")
        / count(lit(1)), 9).as("__m"))
      .collect()
    val byCluster = cells.groupBy(_.getLong(0))
    cents.zipWithIndex.map { case (old, i) =>
      byCluster.get(i.toLong) match {
        case Some(rows) =>
          val m = rows.map(r => r.getInt(1) -> r.getDouble(2)).toMap
          Array.tabulate(old.length)(p => m(p))
        case None => old // empty cluster: previous centroid survives
      }
    }
  }
}
