package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search over `array<float>` columns.
  *
  * Baseline: brute-force cosine (one scan, map-side arithmetic via the
  * fused native DotProduct expression — codegen'd, no UDF, no shuffle
  * except the final top-k). Scale paths: random-hyperplane LSH
  * bucketing (a probe scans ~1/2^bits of the data; multiprobe widens
  * recall) and an IVF index (nprobe/nlist of the data per probe).
  */
object Similarity {

  /** Fused native loop (graft.functions.DotProduct): reads float
    * elements directly, accumulates in double left-to-right — the same
    * fold order as the interpreted zip_with/aggregate formulation and
    * DuckDB's list_dot_product over DOUBLE[], so results stay
    * bit-comparable, at ~20× the throughput. */
  def dot(a: Column, b: Column): Column = graft.functions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(graft.functions.vec_dot(a, a))

  /** try_divide, not `/`: under ANSI mode (Spark 4 default) a zero-norm
    * vector (e.g. an all-zero feature array from an empty payload)
    * would crash the whole job with DIVIDE_BY_ZERO; null cosine instead
    * lets threshold filters drop the degenerate pair gracefully. */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), norm(a) * norm(b))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Brute-force cosine of every vector against one probe vector taken
    * from the table itself (crossJoin of a 1-row broadcast side). */
  def bruteForceAll(vectors: DataFrame, idCol: String, vecCol: String,
      probe: DataFrame): DataFrame = {
    val p = broadcast(probe.select(col(vecCol).as("__probe")))
    vectors.crossJoin(p)
      .select(col(idCol), round(cosine(col(vecCol), col("__probe")), 6).as("cosine"))
  }

  /** Brute-force top-k: full scan + `orderBy(...).limit(k)` (Spark plans
    * this as TakeOrderedAndProject — per-partition heaps, no full sort). */
  def bruteForceTopK(vectors: DataFrame, idCol: String, vecCol: String,
      probe: DataFrame, k: Int): DataFrame =
    bruteForceAll(vectors, idCol, vecCol, probe)
      .orderBy(col("cosine").desc, col(idCol)).limit(k)

  /** Fuzzy (Levenshtein) closest-match against a driver-known candidate
    * list — the full capability behind the reference's vestigial
    * FuzzyMatch step (`etl_final.ktr:3609-3645`, algorithm=levenshtein,
    * closer-value). Entirely map-side: the candidates become a literal
    * array and the per-row minimum is an `array_min` over
    * `struct(distance, candidate)` (struct ordering = distance first,
    * then candidate — deterministic ties). No join, no shuffle, scales
    * as O(rows × candidates) with zero data movement. */
  def closestMatch(keys: DataFrame, c: String, candidates: Seq[String],
      matchCol: String = "matched", distCol: String = "dist"): DataFrame = {
    val cands = array(candidates.distinct.sorted.map(lit): _*)
    keys
      // the isNull guard: levenshtein(null, x) is null for EVERY
      // candidate, and array_min's struct ordering would then
      // tie-break on the candidate string — fabricating a "match" to
      // the alphabetically-first candidate for a null key. A null key
      // matches nothing.
      .withColumn("__best", when(col(c).isNull, lit(null))
        .otherwise(array_min(transform(cands,
          x => struct(levenshtein(col(c), x).as("d"), x.as("s"))))))
      .withColumn(matchCol, col("__best.s"))
      .withColumn(distCol, col("__best.d").cast("long"))
      .drop("__best")
  }

  /** Deterministic pseudo-random hyperplanes: component (i,j) derives
    * from a splitmix64 of the index — no RNG state, reproducible across
    * runs/cluster layouts. Public so external oracles can inline the
    * exact same plane literals (the q27/q52 DuckDB SQL is generated
    * from these values, making the approximate search itself
    * oracle-checkable). */
  def hyperplane(bit: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      var z = (bit.toLong * 0x9E3779B97F4A7C15L) + (j.toLong + 1) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      // map to [-1, 1)
      (z.toDouble / Long.MaxValue.toDouble)
    }

  /** Sign-of-dot-product bucket id with `bits` hyperplanes;
    * `seedOffset` selects an independent hyperplane family (for
    * multi-table LSH). */
  def lshBucket(vec: Column, bits: Int, dim: Int, seedOffset: Int = 0): Column = {
    // the bucket is a Long bitmask: shiftleft(1L, 64) silently WRAPS
    // to bit 0 (Java << semantics), aliasing hyperplane 64 onto
    // hyperplane 0 and corrupting every bucket — fail loudly instead
    require(bits >= 1 && bits <= 64,
      s"lshBucket supports 1..64 hyperplanes (Long bitmask), got $bits")
    (0 until bits).map { b =>
      val h = array(hyperplane(seedOffset + b, dim).toIndexedSeq.map(lit): _*)
      when(dot(vec, h) >= 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce[Column]((a, c) => a.bitwiseOR(c))
  }

  /** IVF coarse quantizer: nlist k-means centroids (spark.ml KMeans,
    * seeded) held on the driver — the index is nlist × dim doubles,
    * broadcast-sized by construction. */
  final case class IvfModel(centroids: Array[Array[Double]]) {
    def nlist: Int = centroids.length
  }

  /** Deterministic sample-init coarse quantizer: the centroids are the
    * corpus vectors with the `nlist` smallest ids — the standard
    * random-sample initialization, skipping Lloyd refinement. Unlike
    * the KMeans fit this is reproducible by ANY engine reading the same
    * table (an external SQL oracle can recompute cell assignment
    * bit-for-bit), which is what makes the IVF pipeline itself
    * oracle-checkable; use [[ivfFit]] when centroid quality matters
    * more than cross-engine reproducibility. */
  def ivfFitSample(vectors: DataFrame, idCol: String, vecCol: String,
      nlist: Int): IvfModel = {
    val rows = vectors.filter(col(idCol) < nlist)
      .select(col(idCol), col(vecCol).cast("array<double>"))
      .collect() // nlist rows — driver-small by construction
      .sortBy(_.getLong(0))
    require(rows.length == nlist, s"need ids 0..${nlist - 1} present")
    IvfModel(rows.map(_.getSeq[Double](1).toArray))
  }

  /** Fit the IVF centroids. One pass of KMeans over (a sample of) the
    * corpus; at 100 TB fit on a hash-sampled fraction — centroid
    * quality needs thousands of points per cell, not the full corpus. */
  def ivfFit(vectors: DataFrame, vecCol: String, nlist: Int,
      seed: Long = 42L): IvfModel = {
    import org.apache.spark.ml.functions.array_to_vector
    val data = vectors.select(
      array_to_vector(col(vecCol).cast("array<double>")).as("__f"))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(nlist).setSeed(seed).setFeaturesCol("__f").fit(data)
    IvfModel(model.clusterCenters.map(_.toArray))
  }

  /** Nearest-centroid cell id, computed as a codegen'd expression:
    * argmin over cells of (‖c‖² − 2⟨v,c⟩) — centroid literals constant-
    * fold, so each row costs nlist fused dot products, no shuffle. */
  def ivfCell(vec: Column, model: IvfModel): Column = {
    val scored = model.centroids.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x * x).sum
      val cArr = array(c.map(lit).toIndexedSeq: _*)
      struct((lit(c2) - lit(2.0) * dot(vec, cArr)).as("d"), lit(i).as("i"))
    }
    array_min(array(scored.toIndexedSeq: _*)).getField("i")
  }

  /** The `nprobe` cells nearest the probe vector, ranked by the SAME
    * expanded-distance formula (‖c‖² − 2⟨p,c⟩, left-to-right folds) as
    * [[ivfCell]] — not by Σ(x−y)²: the two are equal in exact
    * arithmetic but can disagree in float rounding near ties, and an
    * external oracle recomputing cell choice must land on the identical
    * ranking. Ties break by cell id. */
  def probeCells(pv: Array[Double], model: IvfModel, nprobe: Int): Seq[Int] = {
    def d(c: Array[Double]): Double = {
      val c2 = c.map(x => x * x).sum
      var dot = 0.0
      var i = 0
      while (i < c.length) { dot += pv(i) * c(i); i += 1 }
      c2 - 2.0 * dot
    }
    model.centroids.zipWithIndex
      .map { case (c, i) => (d(c), i) }.sortBy(identity).take(nprobe).map(_._2)
      .toIndexedSeq
  }

  /** IVF approximate top-k: search only the `nprobe` cells nearest the
    * probe (cell choice is a driver-side computation over the tiny
    * centroid table), exact cosine re-rank inside them. At scale the
    * corpus is stored partitioned by cell, so a probe reads
    * ~nprobe/nlist of the data. */
  def ivfTopK(vectors: DataFrame, idCol: String, vecCol: String,
      probe: DataFrame, k: Int, model: IvfModel, nprobe: Int): DataFrame = {
    val pv = probe.select(col(vecCol).cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val cells = probeCells(pv, model, nprobe)
    val candidates = vectors
      .withColumn("__cell", ivfCell(col(vecCol), model))
      .filter(col("__cell").isin(cells: _*))
    bruteForceTopK(candidates.drop("__cell"), idCol, vecCol, probe, k)
  }

  /** LSH-bucketed approximate top-k over an UNINDEXED corpus: one scan
    * computes every row's bucket, the probe keeps rows within
    * `multiprobe` bit-flips. Candidate math is sub-linear but the scan
    * is not — use [[annTopKIndexed]] when the corpus is probed more
    * than once. */
  def annTopK(vectors: DataFrame, idCol: String, vecCol: String,
      probe: DataFrame, k: Int, bits: Int = 12, dim: Int = 64,
      multiprobe: Int = 1): DataFrame = {
    val bucketed = vectors.withColumn("__bucket", lshBucket(col(vecCol), bits, dim))
    val probeB = broadcast(probe
      .select(col(vecCol).as("__probe"))
      .withColumn("__pbucket", lshBucket(col("__probe"), bits, dim)))
    val joined = bucketed.crossJoin(probeB)
      .filter(hamming64(col("__bucket"), col("__pbucket")) <= multiprobe)
    joined
      .select(col(idCol), round(cosine(col(vecCol), col("__probe")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol)).limit(k)
  }

  /** All bucket ids within `radius` bit flips of `bucket` — the
    * multiprobe neighborhood, Σ C(bits, r) values, enumerated on the
    * driver (it depends only on the probe, never on the corpus). */
  def bucketsWithin(bucket: Long, bits: Int, radius: Int): Seq[Long] = {
    def flips(start: Int, remaining: Int, cur: Long): Seq[Long] =
      if (remaining == 0) Seq(cur)
      else (start until bits).flatMap(i => flips(i + 1, remaining - 1, cur ^ (1L << i)))
    (0 to radius).flatMap(r => flips(0, r, bucket)).distinct
  }

  /** Materialize the LSH index: the corpus rewritten once with its
    * bucket as a PARTITION column (`bucket=<v>/` directories), built on
    * cache miss and reused thereafter. This is what turns a probe from
    * "full scan + per-row re-hash" into "planning-time partition
    * pruning": a probe's bucket list becomes `PartitionFilters` on the
    * scan, so it reads ~(multiprobe neighborhood)/2^bits of the data —
    * the difference between O(corpus) and O(candidates) per query at
    * 100 TB. The pre-write `repartition(bucket)` gives one writer task
    * per bucket (no small-file explosion from every task touching every
    * partition). */
  def buildAnnIndex(spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame, idCol: String, vecCol: String,
      path: String, bits: Int, dim: Int,
      forceReload: Boolean = false): DataFrame =
    graft.sources.Warehouse.cachedPartitioned(spark, path, Seq("bucket"),
      forceReload) {
      vectors
        .withColumn("bucket", lshBucket(col(vecCol), bits, dim))
        .repartition(col("bucket"))
    }

  /** Incrementally append new vectors to a committed LSH index — the
    * index lifecycle's second half (a training corpus grows; rebuilding
    * 100 TB for each delivery is not a plan). Same bucket function,
    * append-mode partitioned write: new files land inside the existing
    * `bucket=` directories and the very next probe sees old + new rows
    * with no rebuild. Compact small appended files periodically with a
    * `forceReload` rebuild. */
  def appendToAnnIndex(vectors: DataFrame, idCol: String, vecCol: String,
      path: String, bits: Int, dim: Int): Unit =
    vectors
      .withColumn("bucket", lshBucket(col(vecCol), bits, dim))
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket")
      .option("compression", "snappy").parquet(path)

  /** Streaming face of [[appendToAnnIndex]]: a vector stream (file
    * source) continuously feeds the materialized LSH index — the
    * "corpus grows while it's being probed" deployment shape. Each
    * micro-batch runs the SAME bucket+append as the batch face via
    * `foreachBatch` (the sanctioned hook for a partitioned-append
    * sink), so the very next probe sees old + new rows with no
    * rebuild, and stream-ingest ≡ batch-append row for row.
    *
    * Idempotence: a recovered `foreachBatch` can REPLAY a batch, and a
    * blind append would double its vectors — so each applied batch id
    * leaves a marker file under `_applied/<queryName>/` and replays of
    * marked batches are skipped (the standard idempotent-foreachBatch
    * recipe for non-transactional storage; the append-then-crash-
    * before-mark window is the accepted residue, same as any
    * non-atomic sink). `queryName` identifies the ingest LINEAGE —
    * batch ids restart at 0 per checkpoint, so reuse the name exactly
    * when (and only when) resuming the same checkpoint's numbering.
    * Pass a checkpoint for restartable ingest; `Trigger.AvailableNow`
    * drains what has landed and stops — re-run on a schedule, or swap
    * the trigger for continuous tailing. */
  def appendToAnnIndexStream(spark: org.apache.spark.sql.SparkSession,
      vectorsDir: String, schemaFrom: DataFrame, idCol: String,
      vecCol: String, indexPath: String, bits: Int, dim: Int,
      queryName: String, checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = spark.readStream
      .schema(schemaFrom.schema)
      .parquet(vectorsDir)
      .writeStream
      .queryName(queryName)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fs = new org.apache.hadoop.fs.Path(indexPath)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val marker = new org.apache.hadoop.fs.Path(
          s"$indexPath/_applied/$queryName/$batchId")
        if (!fs.exists(marker)) {
          appendToAnnIndex(batch, idCol, vecCol, indexPath, bits, dim)
          fs.mkdirs(marker.getParent)
          fs.create(marker, true).close()
        }
      }
      .start()
  }

  /** Probe a materialized LSH index: enumerate the multiprobe bucket
    * neighborhood driver-side, prune to those partitions, exact-cosine
    * re-rank. Results are identical to [[annTopK]] on the same corpus
    * and parameters.
    *
    * The probe row is collected ONCE (bucket + vector together) and the
    * vector becomes a literal in the plan — one pruned-scan job per
    * probe, no broadcast-exchange job for a 1-row side. */
  def annTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame, idCol: String, vecCol: String,
      probe: DataFrame, k: Int, bits: Int, dim: Int, multiprobe: Int,
      indexPath: String): DataFrame = {
    val idx = buildAnnIndex(spark, vectors, idCol, vecCol, indexPath, bits, dim)
    // collect the probe as array<double> (lossless widening) and rebuild
    // the literal at the INDEX column's own element type — the public
    // signature accepts array<float> or array<double> probes alike
    val pRow = probe
      .select(lshBucket(col(vecCol), bits, dim),
        col(vecCol).cast("array<double>")).head()
    val buckets = bucketsWithin(pRow.getLong(0), bits, multiprobe)
    val pVec = array(pRow.getSeq[Double](1).map(v => lit(v)): _*)
      .cast(idx.schema(vecCol).dataType.simpleString)
    idx.filter(col("bucket").isin(buckets: _*))
      .select(col(idCol), round(cosine(col(vecCol), pVec), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol)).limit(k)
  }

  /** Materialize the IVF index: corpus partitioned by its coarse cell.
    * A probe reads only `nprobe` of `nlist` partitions. */
  def buildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame, idCol: String, vecCol: String,
      path: String, model: IvfModel,
      forceReload: Boolean = false): DataFrame =
    graft.sources.Warehouse.cachedPartitioned(spark, path, Seq("cell"),
      forceReload) {
      vectors
        .withColumn("cell", ivfCell(col(vecCol), model))
        .repartition(col("cell"))
    }

  /** Incrementally append new vectors to a committed IVF index — the
    * [[appendToAnnIndex]] sibling: the SAME fitted centroids assign
    * cells (append must never refit — moving centroids would strand
    * existing rows in stale cells), new files land inside the existing
    * `cell=` directories, and the next pruned probe sees old + new. */
  def appendToIvfIndex(vectors: DataFrame, idCol: String, vecCol: String,
      path: String, model: IvfModel): Unit =
    vectors
      .withColumn("cell", ivfCell(col(vecCol), model))
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell")
      .option("compression", "snappy").parquet(path)

  /** Probe a materialized IVF index: nearest `nprobe` cells chosen
    * driver-side over the tiny centroid set, partition-pruned read,
    * exact cosine re-rank with the probe vector as a plan literal (one
    * collect serves both cell choice and re-rank). Identical results
    * to [[ivfTopK]]. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame, idCol: String, vecCol: String,
      probe: DataFrame, k: Int, model: IvfModel, nprobe: Int,
      indexPath: String): DataFrame = {
    val idx = buildIvfIndex(spark, vectors, idCol, vecCol, indexPath, model)
    // one collect serves cell choice and the re-rank literal; the probe
    // may be array<float> OR array<double> — widen to double, rebuild at
    // the index column's native element type
    val pRow = probe
      .select(col(vecCol).cast("array<double>")).head()
    val cells = probeCells(pRow.getSeq[Double](0).toArray, model, nprobe)
    val pVec = array(pRow.getSeq[Double](0).map(v => lit(v)): _*)
      .cast(idx.schema(vecCol).dataType.simpleString)
    idx.filter(col("cell").isin(cells: _*))
      .select(col(idCol), round(cosine(col(vecCol), pVec), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol)).limit(k)
  }

  /** Deterministic seed-exemplar clustering: every vector assigned to
    * the most-cosine-similar of the k corpus vectors with the
    * lexicographically smallest `(md5(id), id)` — the same
    * engine-portable draw + argmax [[graft.dedup.Dedup.semanticDupPairs]]
    * buckets with (ties to the lower seed id). The cheap bucketing
    * face shared by SemDeDup and [[hardNegatives]]; swap in
    * [[graft.ml.KMeansRel.fit]] centroids when cluster quality
    * matters more than zero-fit cost. Returns (idCol, cluster). */
  def seedAssign(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, nCoarse: Int = CoarseAuto): DataFrame = {
    val seeds = seedsOf(vectors, idCol, vecCol, k)
    val nc = resolveNCoarse(k, nCoarse)
    if (nc > 0) assignToSeedsCoarse(vectors, idCol, vecCol, seeds, nc)
    else assignToSeeds(vectors, idCol, vecCol, seeds)
  }

  /** Sentinel `nCoarse`: choose the assignment path FROM the seed
    * count ([[autoNCoarse]]) — the default for [[seedAssign]],
    * [[knnJoin]], [[hardNegatives]], and
    * [[graft.dedup.Dedup.semanticDupPairsWith]]. The 100× probe
    * measured exact assignment's n·c cosines at 210 s vs the
    * two-level path's 20 s once the cell count scales with the corpus
    * — the scale-safe plan must not hide behind a knob. Pass 0 to
    * force exact assignment, or an explicit positive super-seed count
    * to force the two-level path. */
  val CoarseAuto: Int = -1

  /** Below this many seeds, exact assignment stays the default under
    * [[CoarseAuto]]: n·c broadcast cosines are cheap at small c, and
    * exact beats approximate when it costs nothing. At or above it,
    * the two-level path with √c super-seeds wins asymptotically
    * (O(n·√c)) and the IVF-style recall trade is the right one. */
  val AutoCoarseMinSeeds: Int = 128

  /** The path rule behind [[CoarseAuto]]: 0 (exact) below
    * [[AutoCoarseMinSeeds]] seeds, else ⌈√c⌉ super-seeds. A PURE
    * function of the caller's seed count — no data probe — so which
    * path runs is deterministic for a given call, and an oracle
    * replaying the query knows it statically. */
  def autoNCoarse(nSeeds: Int): Int =
    if (nSeeds >= AutoCoarseMinSeeds)
      math.max(1, math.ceil(math.sqrt(nSeeds.toDouble)).toInt)
    else 0

  private[graft] def resolveNCoarse(nSeeds: Int, nCoarse: Int): Int =
    if (nCoarse < 0) autoNCoarse(nSeeds) else nCoarse

  /** The k md5-draw seed exemplars of a corpus, as (__sid, __sv). */
  def seedsOf(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1 clusters, got $k")
    vectors.select(col(idCol).as("__sid"), col(vecCol).as("__sv"))
      .orderBy(md5(col("__sid").cast("string")), col("__sid"))
      .limit(k)
  }

  /** Assign any vector relation to an existing seed relation by argmax
    * cosine (ties to the lower seed id) — so a query side and a corpus
    * side bucketize IDENTICALLY. Returns (idCol, cluster).
    *
    * Cost is n·|seeds| cosines (broadcast crossJoin) — fine while the
    * seed count is a model choice, but the SemDeDup/kNN/hard-negative
    * contract scales |seeds| WITH the corpus (constant expected cell
    * size keeps pair work Σ m_c² linear), which makes exact assignment
    * O(n²/m) — the measured super-linearity of the 100× probe. At that
    * regime use [[assignToSeedsCoarse]]. */
  def assignToSeeds(vectors: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame): DataFrame =
    vectors.crossJoin(broadcast(seeds))
      .groupBy(col(idCol))
      .agg(max_by(col("__sid"),
        struct(cosine(col(vecCol), col("__sv")).as("c"),
          (-col("__sid")).as("nt"))).as("cluster"))

  /** Two-level (coarse-quantized) seed assignment — the IVF trick
    * applied to the seed layer itself: draw `nCoarse` SUPER-seeds from
    * the seeds (same deterministic md5 draw), pre-assign every seed to
    * its nearest super-seed (|seeds|·nCoarse, trivial), then each
    * vector probes its nearest super-seed's cell only. With
    * nCoarse ≈ √|seeds| the per-vector work drops from |seeds| to
    * ~2√|seeds| cosines — O(n·√c) total, which is what survives the
    * "cell count scales with the corpus" contract at 100 TB.
    *
    * APPROXIMATE in the standard IVF sense: a vector whose true
    * nearest seed lives outside its coarse cell lands on the best seed
    * INSIDE the cell instead (locality makes this rare, and for the
    * bucketing use cases — SemDeDup, kNN, hard negatives — a
    * near-boundary vector moving cells trades a little recall, not
    * correctness). Every super-seed is itself a seed and assigns to
    * itself, so every coarse cell is non-empty and the assignment
    * stays TOTAL. Deterministic end-to-end: md5 draws + tie-broken
    * argmaxes, no RNG. Returns (idCol, cluster). */
  def assignToSeedsCoarse(vectors: DataFrame, idCol: String,
      vecCol: String, seeds: DataFrame, nCoarse: Int): DataFrame = {
    require(nCoarse >= 1, s"need nCoarse >= 1, got $nCoarse")
    val superSeeds = seeds
      .orderBy(md5(col("__sid").cast("string")), col("__sid"))
      .limit(nCoarse)
      .select(col("__sid").as("__cid"), col("__sv").as("__cv"))
    // seed → coarse cell (tiny: |seeds| × nCoarse, both broadcastable)
    val seedCell = seeds.crossJoin(broadcast(superSeeds))
      .groupBy(col("__sid"), col("__sv"))
      .agg(max_by(col("__cid"),
        struct(cosine(col("__sv"), col("__cv")).as("c"),
          (-col("__cid")).as("nt"))).as("__cell"))
    // vector → coarse cell (n · nCoarse cosines)
    val vecCell = vectors.crossJoin(broadcast(superSeeds))
      .groupBy(col(idCol))
      .agg(max_by(col("__cid"),
        struct(cosine(col(vecCol), col("__cv")).as("c"),
          (-col("__cid")).as("nt"))).as("__cell"))
    // vector → best seed within its cell (n · expected-cell-size)
    vectors.join(vecCell, Seq(idCol))
      .join(broadcast(seedCell), Seq("__cell"))
      .groupBy(col(idCol))
      .agg(max_by(col("__sid"),
        struct(cosine(col(vecCol), col("__sv")).as("c"),
          (-col("__sid")).as("nt"))).as("cluster"))
  }

  /** Salted form of the intra-cell pair join `left ⋈ right ON
    * cluster`: the cluster key has only nClusters distinct values, so
    * a plain equi-join shuffles every row into ≤ nClusters reduce
    * partitions and each cell's whole Σ m_c² pair scan runs in ONE
    * task (r16 profile: q161's join stage was a single 2 s task at 32
    * cores — the guide §2.5 hot-key shape, and AQE's skew split never
    * fires because each cell is a single key). The salt splits the
    * RIGHT side into `slices` deterministic sub-keys
    * (`xxhash64(rightSliceKey) mod slices`) and replicates the LEFT
    * side across all of them, so the join spreads over
    * nClusters × slices keys while every (left, right) pair still
    * meets exactly once — output rows are identical, only the
    * partitioning changes. `slices` is scale-adaptive
    * (defaultParallelism / nClusters, so the key count tracks the
    * session's core count, never a local constant) and collapses to 1
    * (the unsalted plan) when the cluster count alone already spreads
    * the work. Replication multiplies left-side shuffle bytes by
    * `slices` — the standard salting trade; keep the smaller relation
    * on the left. */
  private def joinSaltedByCluster(left: DataFrame, right: DataFrame,
      rightSliceKey: String, nClusters: Int): DataFrame = {
    val slices = math.max(1,
      left.sparkSession.sparkContext.defaultParallelism /
        math.max(1, nClusters))
    if (slices <= 1) left.join(right, Seq("cluster"))
    else {
      val lS = left.withColumn("__slice",
        explode(sequence(lit(0), lit(slices - 1))))
      val rS = right.withColumn("__slice",
        pmod(xxhash64(col(rightSliceKey)), lit(slices.toLong)).cast("int"))
      lS.join(rS, Seq("cluster", "__slice")).drop("__slice")
    }
  }

  /** Approximate k-nearest-neighbor JOIN: for every query vector, the
    * k most-cosine-similar corpus vectors, searched ONLY inside the
    * query's seed cell — the batch-retrieval face of [[annTopK]]
    * (thousands of probes amortized into one equi-join instead of one
    * scan per probe). Both sides bucketize against the CORPUS's seed
    * exemplars, so a query always lands where its candidates live;
    * per-query ranking runs on [[graft.functions.BoundedTopKAgg]]
    * (≤ k rows per buffer). Recall is what the cell geometry gives —
    * measure it with [[graft.ml.Metrics.recallAtK]]; raise nClusters
    * to trade recall for Σ m_c² pair work.
    *
    * @return (qIdCol, nn_id, cosine DESC-ranked to 6 places, rn 1..k);
    *         a query that is also in the corpus matches itself at
    *         rank 1 — filter `qIdCol =!= nn_id` downstream if
    *         self-matches are unwanted. */
  def knnJoin(queries: DataFrame, qIdCol: String,
      corpus: DataFrame, cIdCol: String, vecCol: String,
      nClusters: Int, k: Int, nCoarse: Int = CoarseAuto): DataFrame = {
    val seeds = seedsOf(corpus, cIdCol, vecCol, nClusters)
    val nc = resolveNCoarse(nClusters, nCoarse)
    def assign(v: DataFrame, id: String) =
      if (nc > 0) assignToSeedsCoarse(v, id, vecCol, seeds, nc)
      else assignToSeeds(v, id, vecCol, seeds)
    val qa = queries.join(assign(queries, qIdCol), Seq(qIdCol))
      .select(col("cluster"), col(qIdCol), col(vecCol).as("__vq"))
    val ca = corpus.join(assign(corpus, cIdCol), Seq(cIdCol))
      .select(col("cluster"), col(cIdCol).as("nn_id"),
        col(vecCol).as("__vc"))
    val cand = joinSaltedByCluster(qa, ca, "nn_id", nClusters)
      .withColumn("__c", cosine(col("__vq"), col("__vc")))
      .filter(col("__c").isNotNull)
    graft.features.Features.topKPerGroupBounded(cand, qIdCol,
        struct((-col("__c")).as("__nc"), col("nn_id"),
          round(col("__c"), 6).as("cosine")), k)
      .drop("__nc")
  }

  /** Hard-negative mining for contrastive training: for every anchor,
    * the k most-similar vectors carrying a DIFFERENT label — the
    * "hardest" negatives, the pairs that teach a metric model the
    * most (Schroff et al. 2015's semi-hard insight, mined corpus-wide
    * rather than in-batch).
    *
    * The candidate space is bounded the SemDeDup way: anchors only
    * meet candidates in their own [[seedAssign]] cluster (production
    * ANN-based mining — negatives outside the anchor's neighborhood
    * are easy, not hard, so restricting to the cell loses little and
    * caps pair work at Σ m_c²). The per-anchor top-k runs on
    * [[graft.functions.BoundedTopKAgg]] — every aggregation buffer
    * holds ≤ k rows, so a mega-cluster can't OOM an executor. Rows
    * with null labels or degenerate (zero-norm) cosines drop.
    *
    * @return (idCol, neg_id, cosine DESC-ranked, rn 1..k) — ties
    *         break to the lower neg_id; cosine rounded to 6 places.
    */
  def hardNegatives(vectors: DataFrame, idCol: String, vecCol: String,
      labelCol: String, nClusters: Int, k: Int,
      nCoarse: Int = CoarseAuto): DataFrame = {
    val cells = seedAssign(vectors, idCol, vecCol, nClusters, nCoarse)
    val withC = vectors.join(cells, Seq(idCol))
    val a = withC.select(col("cluster"), col(idCol),
      col(vecCol).as("__va"), col(labelCol).as("__la"))
    val b = withC.select(col("cluster"), col(idCol).as("neg_id"),
      col(vecCol).as("__vb"), col(labelCol).as("__lb"))
    val cand = joinSaltedByCluster(a, b, "neg_id", nClusters)
      .filter(col("__la") =!= col("__lb")) // null labels fall out here
      .withColumn("__c", cosine(col("__va"), col("__vb")))
      .filter(col("__c").isNotNull)
    graft.features.Features.topKPerGroupBounded(cand, idCol,
        struct((-col("__c")).as("__nc"), col("neg_id"),
          round(col("__c"), 6).as("cosine")), k)
      .drop("__nc")
  }
}
