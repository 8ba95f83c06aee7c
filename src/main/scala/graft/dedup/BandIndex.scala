package graft.dedup

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Executor-resident POINT-LOOKUP INDEX over a stored signature
  * relation's banded candidate face — the structure that removes the
  * ingest stream's last per-batch O(accepted) term.
  *
  * Why an in-memory index and not storage-side pruning: the candidate
  * join needs, per micro-batch, the stored ids in the ~|batch|×bands
  * LSH buckets the batch touches. Bucket values are minhash output —
  * uniformly random — so ANY block-granular storage skip (hive
  * partitions on a bucket prefix, row-group min/max, per-group bloom
  * probes) degenerates as soon as the batch touches more keys than
  * the store has blocks: a 5k-doc batch probes ~40k uniform keys,
  * which hits every one of a few hundred row groups (and every one of
  * any practical partition-directory count) with probability ~1. The
  * information actually needed is tiny — touched buckets are ~0.05%
  * of stored rows at 10M docs — but it is uniformly scattered, which
  * is precisely the access pattern scan-oriented storage cannot skip
  * and a sorted in-memory structure answers in O(keys × log rows).
  *
  * Shape: the exploded face `(bucket, band, id)` is hash-partitioned
  * by bucket into `numParts` partitions; each partition holds three
  * parallel primitive arrays sorted by (bucket, band) — ~20 B/row on
  * heap with zero boxing, so 10M docs × 8 bands ≈ 1.6 GB across the
  * cluster (executors that hold the corpus's working set anyway), and
  * partitions spill whole via MEMORY_AND_DISK if they must. A lookup
  * broadcasts the batch's distinct (band, bucket) keys (bounded by
  * the caller) and probes every partition — but each partition first
  * PRUNES the key set to the keys that hash-partition TO it (a match
  * can only live in the partition its bucket hashed to), so the
  * per-partition work is O(keys) cheap hashes + O(keys/P × log rows)
  * binary searches instead of O(keys × log rows): the miss term no
  * longer grows with the partition count, and pruned misses never
  * touch the (possibly disk-spilled) arrays at all. The pruning is
  * safe by construction: [[BandIndex.build]] VERIFIES per partition
  * that every row landed where [[BandIndex.partitionOf]] says it
  * should (Spark's HashPartitioning contract) and records the verdict
  * in the partition itself — a partition that ever failed the check
  * (defensive: a future Spark changing the repartition hash) falls
  * back to probing the full key set, so correctness never rests on
  * the partitioner assumption.
  *
  * Lifecycle: built once per immutable store snapshot (the ingest
  * sink's generation set — it changes only at folds, so the build is
  * amortized over a fold epoch and the per-batch stored-side cost
  * drops to O(batch keys + matched rows)); `unpersist()` releases the
  * executor memory when the snapshot is superseded. Per-LOOKUP state
  * (the broadcast key set) is released by the caller via
  * [[lookupReleasable]] once the consuming action has run — see
  * there. */
final class BandIndex private (
    private[dedup] val parts: RDD[BandIndex.Part],
    /** Total rows indexed (= stored docs × bands) — telemetry/gating. */
    val indexedRows: Long) {

  /** The stored rows in the probed buckets, as `(band, bucket, id_b)`
    * — value-identical to exploding the indexed relation and
    * semi-joining it on the key set. `keys` must be distinct; the
    * caller bounds its size ([[Dedup.MaxLookupKeys]]).
    *
    * Also returns a RELEASE handle that destroys the lookup's key
    * broadcast. One broadcast is shipped per lookup call (one per
    * micro-batch on the ingest path); without an explicit destroy
    * they pile up on the driver and executors until the
    * ContextCleaner happens to GC the wrapper — a slow leak on a
    * long-running stream. The caller invokes the handle as soon as
    * the result's consuming ACTION has completed and the returned
    * plan no longer references this lookup (e.g. after localizing
    * the verified pairs); while any live plan may still recompute
    * the lookup's lineage (lost executor → partition recompute), the
    * handle must NOT be called — the broadcast is part of the
    * lineage. */
  def lookupReleasable(spark: SparkSession,
      keys: Array[(Int, Long)]): (DataFrame, () => Unit) = {
    val sorted = keys.sortBy { case (band, bucket) => (bucket, band) }
    val kBucket = sorted.map(_._2)
    val kBand = sorted.map(_._1)
    val bKeys = spark.sparkContext.broadcast((kBucket, kBand))
    val rows: RDD[Row] = parts.mapPartitions { partIt =>
      partIt.flatMap { p =>
        val (kb, kn) = bKeys.value
        Iterator.range(0, kb.length).flatMap { i =>
          // partitioner-aligned pruning: a key whose bucket hashes to
          // another partition cannot match here — skip it before the
          // binary search (aligned = verified at build; 0 = fall back
          // to probing every key, correctness unaffected)
          if (p.alignedParts > 0 &&
              BandIndex.partitionOf(kb(i), p.alignedParts) != p.partIdx)
            Iterator.empty
          else {
            val from = BandIndex.lowerBound(p.bucket, kb(i))
            Iterator.range(from, p.bucket.length)
              .takeWhile(j => p.bucket(j) == kb(i))
              .filter(j => p.band(j) == kn(i))
              .map(j => Row(kn(i), kb(i), p.id(j)))
          }
        }
      }
    }
    // the handle is IDEMPOTENT: a destroyed broadcast throws on a
    // second destroy, and callers with layered error handling (catch +
    // finally) would otherwise mask the original failure with a
    // SparkException from the cleanup path
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    (spark.createDataFrame(rows, BandIndex.lookupSchema),
      () => if (released.compareAndSet(false, true)) bKeys.destroy())
  }

  /** [[lookupReleasable]] without the release handle — the broadcast
    * is then reclaimed by the ContextCleaner once the returned plan
    * is unreachable (fine for one-shot/test use; the per-batch ingest
    * path releases explicitly). */
  def lookup(spark: SparkSession, keys: Array[(Int, Long)]): DataFrame =
    lookupReleasable(spark, keys)._1

  def unpersist(): Unit = parts.unpersist(blocking = false)

  /** The persisted parts RDD's id — leak-accounting visibility for
    * specs (which persisted RDDs belong to live indexes). */
  private[graft] def rddId: Int = parts.id
}

object BandIndex {

  /** One hash partition of the face: parallel primitive arrays sorted
    * by (bucket, band) — binary-searchable, unboxed, spillable whole.
    * `alignedParts`/`partIdx` record the VERIFIED hash-partitioning
    * this partition sits in (`alignedParts = 0` when the build-time
    * check found any row out of place — lookups then probe every key
    * instead of pruning). */
  final case class Part(bucket: Array[Long], band: Array[Int],
      id: Array[Long], alignedParts: Int, partIdx: Int)

  private[dedup] val lookupSchema = StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bucket", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false)))

  /** First position of `key` in sorted `a` (or of its successor). */
  private[dedup] def lowerBound(a: Array[Long], key: Long): Int = {
    var lo = 0
    var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** The shuffle partition `repartition(numParts, col("bucket"))`
    * sends a bucket to: Spark's HashPartitioning is
    * `pmod(murmur3(value, seed = 42), numParts)`
    * (`HashPartitioning.partitionIdExpression`). Verified per
    * partition at build time, never assumed — see [[Part]]. */
  private[dedup] def partitionOf(bucket: Long, numParts: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
      .hashLong(bucket, 42)
    ((h % numParts) + numParts) % numParts
  }

  /** Compose sub-indexes into one probe-able index WITHOUT copying or
    * re-persisting anything: the composed `parts` is an RDD union of
    * the members' persisted partitions, so a lookup probes every
    * member's partitions in one job and unions the matches — exactly
    * the rows a single index over the concatenated relations would
    * return (each member's partitioning is internally consistent, and
    * each Part carries its OWN verified (alignedParts, partIdx), so
    * per-partition key pruning keeps working across members with
    * different partition counts). This is what makes the ingest
    * sink's index INCREMENTAL: one sub-index per immutable
    * generation, a fold builds only the NEW generation's sub-index
    * (O(new gen), not O(corpus)) and drops the absorbed ones', and
    * the per-batch probe composes the survivors. The composed wrapper
    * owns nothing: unpersisting it is a no-op on the members, which
    * the caller's lifecycle (cache eviction / invalidate) releases
    * individually. */
  def union(indexes: Seq[BandIndex]): BandIndex = {
    require(indexes.nonEmpty, "union of zero band indexes")
    if (indexes.size == 1) indexes.head
    else new BandIndex(
      indexes.head.parts.sparkContext.union(indexes.map(_.parts)),
      indexes.map(_.indexedRows).sum)
  }

  /** Build from a signature relation (`id: long, bands: array<long>`,
    * the [[Dedup.nearDupSignatures]] schema) — one exploded pass,
    * hash-shuffled by bucket, sorted per partition, pinned with
    * MEMORY_AND_DISK. Cost O(rows log rows/part), paid once per store
    * snapshot. With `numParts = 0` the partition count is sized from
    * the relation's Catalyst stats at ~64 MB of stats bytes per
    * partition, with NO parallelism floor: every partition of every
    * live sub-index is probed by EVERY per-batch lookup job, so idle
    * width is a recurring per-batch task-overhead tax (measured +0.3 s
    * per batch on the 200-batch probe when each small generation
    * carried a 32-partition floor), while build-time width is paid
    * once per fold. Data-proportional sizing keeps the composed
    * probe's task count ≈ corpus bytes / 64 MB regardless of how many
    * generations the corpus is split into, and one fixed count could
    * never serve both a 1M-doc sink and a 1B-doc corpus anyway (8B
    * face rows over 32 partitions would build 5 GB sort arrays per
    * partition). */
  def build(sigs: DataFrame, numParts: Int = 0): BandIndex = {
    val spark = sigs.sparkSession
    val p =
      if (numParts > 0) numParts
      else {
        val stats = sigs.queryExecution.optimizedPlan.stats.sizeInBytes
        if (stats.isValidLong)
          math.min(Int.MaxValue.toLong,
            math.max(1L, (stats.toLong + (64L << 20) - 1) / (64L << 20)))
            .toInt
        else spark.sparkContext.defaultParallelism
      }
    val exploded = sigs
      .select(col("id").cast(LongType).as("id"),
        posexplode(col("bands")).as(Seq("band", "bucket")))
      .repartition(p, col("bucket"))
      .select(col("bucket"), col("band"), col("id"))
    val parts: RDD[Part] = exploded.rdd.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      val triples = it.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toArray
      java.util.Arrays.sort(triples,
        Ordering.by((t: (Long, Int, Long)) => (t._1, t._2, t._3)))
      val n = triples.length
      val bucket = new Array[Long](n)
      val band = new Array[Int](n)
      val id = new Array[Long](n)
      var i = 0
      // verify the HashPartitioning contract row-by-row while copying:
      // pruning at lookup time is enabled only for a partition whose
      // every row provably hashed here (distinct buckets would do, but
      // rows are already in hand and the hash is ~ns-cheap)
      var aligned = true
      while (i < n) {
        bucket(i) = triples(i)._1
        band(i) = triples(i)._2
        id(i) = triples(i)._3
        if (aligned && partitionOf(bucket(i), p) != pid) aligned = false
        i += 1
      }
      Iterator.single(Part(bucket, band, id,
        if (aligned) p else 0, pid))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    // materialize now: the index is built at a fold boundary on
    // purpose — lazily building it inside the next batch's candidate
    // join would bill the epoch's O(corpus) cost to one micro-batch
    // unpredictably AND risk recomputation per downstream branch
    val rows = parts.map(_.bucket.length.toLong).fold(0L)(_ + _)
    new BandIndex(parts, rows)
  }
}
