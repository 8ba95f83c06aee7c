package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup.Dedup
import graft.features.Features
import graft.text.{Decontaminate, TextOps}

/** The end-to-end training-data curation chain (the q177 composition)
  * as ONE operator: exact dedup → near-dup clusters → quality gate →
  * benchmark decontamination → budget mixture → shard assignment.
  *
  * Why it exists beyond the inline composition: LINEAGE. Each stage's
  * output feeds multiple downstream consumers (the near-dup stage
  * alone reads its input three times — band join, both shingle-verify
  * sides — and every later stage re-reads the dedup survivors), so an
  * unpersisted chain recomputes the expensive early stages once per
  * consumer. [[curate]] therefore has two storage paths with
  * bit-identical results: plain LINEAGE for small corpora, and the
  * warehouse SCRATCH+PINS path (near-dup signatures through a parquet
  * scratch, the other stage boundaries pinned at MEMORY_AND_DISK) once
  * the corpus's size estimate reaches the `scratchAutoBytes` gate. The
  * 1000× probe table (README, curation section) measured the two
  * other postures — stages pinned in the block cache alone, and a
  * caller-owned scratch directory — and retired both.
  */
object Curation {

  /** Corpora whose Catalyst size estimate reaches this make [[curate]]
    * route the chain through the scratch+pins path — the engine's
    * stats-gate pattern ([[graft.text.Decontaminate.SmallCorpusBytes]]):
    * plan statistics are free (no job), estimates err LARGE through
    * joins — which errs toward scratch, the correct direction at scale
    * — and the chain is bit-identical on both paths, so the choice
    * never changes a result. Measured one JVM per mode at the 1000×
    * probe scale (500k docs, ~150 MB raw text — cached-corpus stats
    * ~200 MB): scratch+pins 42–69 s vs lineage 98–119 s same-day
    * (r9's table on a busier box: 377 vs 774 vs 1269 s, same
    * ordering) — scratch wins because parquet column-prunes each
    * consumer's branch where the block cache feeds whole rows, and
    * the signature bytes live compressed on disk instead of squatting
    * on executor memory the rest of the chain wants. The win holds at
    * fixture scale too: q177's r16 paired run measured scratch+pins at
    * 6.8 s against lineage at 9.1 s, which is why q177 (and the
    * cube_serve benchmark set-up) pass `scratchAutoBytes = 0`. The
    * default stays at 64 MB so that ad-hoc callers on tiny corpora
    * skip the scratch write and its temp directory. */
  val ScratchAutoBytes: Long = 64L * 1024 * 1024

  /** Accepted documents after the full gate chain (before sharding):
    * exact dedup (keep-min fingerprint group), near-dup CC drop at
    * `threshold`, quality-score floor, n-gram decontamination of
    * `corpus` against `benchmark`, and the md5-bucketed budget
    * mixture. Column contract: docs(idCol, textCol, domainCol,
    * costCol).
    *
    * A corpus whose Catalyst size estimate reaches `scratchAutoBytes`
    * ([[ScratchAutoBytes]]) takes the scratch+pins path through a
    * TEMP directory the chain owns: the near-dup signature stage is
    * written to parquet (the pair plan's banding branch then scans
    * only `(id, bands)` and its verify branch only `(id, sh)`), the
    * other stage boundaries pin at MEMORY_AND_DISK while their
    * consumers run, the final selection is checkpointed, and the
    * scratch is deleted before returning, so the caller sees only the
    * accepted frame. Smaller corpora run on plain lineage. Results are
    * bit-identical on both paths. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String, costCol: String,
      threshold: Double, minQuality: Double,
      benchmark: DataFrame, decontaminateN: Int,
      weights: Map[String, Double], budget: Long,
      corpusPredicate: Column = lit(true),
      scratchAutoBytes: Long = ScratchAutoBytes): DataFrame = {
    val est = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val autoDir: Option[String] =
      if (est.isValidLong && est.toLong < scratchAutoBytes) None
      else {
        // under the WAREHOUSE dir, not a driver-local tempdir: on a
        // real cluster every executor must reach the scratch, and
        // the warehouse is the one path the session already
        // guarantees is shared storage
        val base = docs.sparkSession.conf.get("spark.sql.warehouse.dir")
        Some(s"$base/_graft_curation_scratch_${java.util.UUID.randomUUID}")
      }
    // the scratch path adopts the FULL scale posture, not just the
    // scratch half: stage boundaries feed multiple consumers each, so
    // they pin too (measured in isolation: scratch+pins 42 s vs
    // scratch-sigs-over-lineage 119 s at 1000×)
    def staged(df: DataFrame): DataFrame =
      if (autoDir.isDefined) df.persist(StorageLevel.MEMORY_AND_DISK)
      else df
    try {
    val d1 = staged(Dedup.dropExactDups(docs, idCol, textCol))
    // the near-dup signature relation (bands + shingle sets) appears
    // in BOTH the banding branch and the candidate-verify branch of
    // the pair plan; Spark materializes no common subexpression, so
    // the lineage path computes every doc's minhash/shingles twice,
    // and the scratch path writes them ONCE — the r9 decade probe
    // prices exactly this: the same corpus dedups 6.7× faster off a
    // materialized signature relation than off text.
    // Composition identity: nearDupPairs IS
    // nearDupPairsFromSignatures ∘ nearDupSignatures, so results are
    // bit-identical either way.
    val sigs = autoDir match {
      case Some(dir) =>
        val path = s"$dir/near_dup_sigs"
        Dedup.nearDupSignatures(d1, idCol, textCol)
          .write.mode("overwrite").parquet(path)
        docs.sparkSession.read.parquet(path)
      case None => Dedup.nearDupSignatures(d1, idCol, textCol)
    }
    val d2 = staged(Dedup.dropNearDups(d1, idCol,
      Dedup.nearDupPairsFromSignatures(sigs, threshold)))
    val d3 = d2.filter(
      round(TextOps.qualityScore(col(textCol)), 6) >= minQuality)
    // corpusPredicate carves the export corpus out AFTER the corpus-
    // wide gates (dedup/quality see everything) but BEFORE
    // decontamination — the q177 shape, where the benchmark's own
    // rows must not decontaminate themselves out of a corpus they
    // are not part of
    val d4 = staged(Decontaminate.decontaminate(
      d3.filter(corpusPredicate), benchmark, idCol, textCol,
      n = decontaminateN))
    val d5 = Features.budgetMixSample(
      d4.select(col(idCol), col(domainCol), col(costCol)),
      domainCol = domainCol, keyCol = idCol, costCol = costCol,
      weights = weights, budget = budget)
    if (autoDir.isEmpty) d5
    else {
      // materialize the selection before releasing the pinned stages
      // (unpersisting first would recompute the whole chain) and
      // before the finally deletes the scratch — the accepted set is
      // budget-sized, a pin the caller wants anyway. A persist alone
      // would keep the full lineage, and any later cache-block loss
      // would recompute through the deleted path and fail with a
      // mystery FileNotFound; checkpointing truncates the lineage:
      // reliably when the session has a checkpoint dir, locally
      // otherwise (the local form is executor-resident — documented
      // non-fault-tolerant).
      val sc = docs.sparkSession.sparkContext
      val pinned =
        if (sc.getCheckpointDir.isDefined) d5.checkpoint()
        else d5.localCheckpoint()
      Seq(d1, d2, d4).foreach(_.unpersist())
      pinned
    }
    } finally autoDir.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(docs.sparkSession.sessionState.newHadoopConf())
        .delete(p, true)
    }
  }

  /** [[curate]] + 8-shard export profile — the manifest a training
    * export ships (q177's output shape). */
  def exportProfile(accepted: DataFrame, idCol: String, costCol: String,
      nShards: Int): DataFrame =
    accepted
      .withColumn("shard", graft.operators.Shards.shardCol(idCol, nShards))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col(costCol)).as("chars"))
      .orderBy("shard")

  /** Per-source verdict table for SOURCE-LEVEL filtering (the
    * CCNet/RefinedWeb-style domain gate: curation decisions are made
    * per origin, not only per document, because a low-quality source
    * predicts low quality for ALL its documents — including the ones
    * that individually slip past a per-doc filter). One row per
    * source: document count, the mean of `metricCol` (display only,
    * 6dp), and the keep verdict. The verdict never divides: mean ≥
    * minMean is tested as sum ≥ minMean × count, with the sum
    * accumulated in DECIMAL(38,12) (order-independent under partial
    * aggregation — a double sum would make the verdict depend on
    * partitioning) and the comparison done in double (the decimal sum
    * converts deterministically; decimal division and decimal×bigint
    * widening both have engine-specific rounding/width rules, so
    * neither crosses engines safely). Scale: one partial-aggregated
    * groupBy shuffle of (source, sum, count) — source cardinality is
    * domain-sized, never corpus-sized. */
  def sourceStats(docs: DataFrame, sourceCol: String, metricCol: String,
      minMean: Double): DataFrame =
    docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(metricCol).cast("decimal(38,12)")).as("__sum"))
      .select(col(sourceCol), col("n_docs"),
        round(col("__sum").cast("double") / col("n_docs"), 6)
          .as("mean_metric"),
        (col("__sum").cast("double") >=
          lit(minMean) * col("n_docs")).as("kept"))

  /** The documents from kept sources only ([[sourceStats]] verdicts,
    * applied). The verdict side is domain-sized → AQE broadcasts the
    * semi join; the corpus never shuffles. */
  def sourceFilter(docs: DataFrame, sourceCol: String, metricCol: String,
      minMean: Double): DataFrame =
    docs.join(
      sourceStats(docs, sourceCol, metricCol, minMean)
        .filter(col("kept")).select(sourceCol),
      Seq(sourceCol), "left_semi")
}
