package graft.dedup

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication at training-data scale.
  *
  * Four strategies with distinct scale profiles:
  *  - exact: one hash-groupBy shuffle on a 64-bit fingerprint (cheap).
  *  - MinHash + LSH: per-doc signatures computed map-side, candidate
  *    pairs only where a band bucket collides — the shuffle volume is
  *    O(docs × bands), never O(docs²).
  *  - SimHash: one 64-bit signature per doc; near-dup = small Hamming
  *    distance, bucketed by signature prefix.
  *  - n-gram Jaccard: exact verification metric, evaluated only on the
  *    candidate pairs the sketches propose.
  */
object Dedup {

  /** Exact dedup: group on content fingerprint, keep the lowest id.
    * At 100 TB this is one shuffle of (fingerprint, id) pairs — project
    * the two columns before grouping so the shuffle carries no payload.
    * The default fingerprint is xxhash64 (an 8-byte shuffle key); pass
    * e.g. `md5(col(text).cast("binary"))` when the fingerprint must be
    * reproducible in another engine (the DuckDB-oracled q17 does). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String,
      fingerprint: Column => Column = c => xxhash64(c)): DataFrame =
    docs.select(fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Rows that survive exact dedup (first id per distinct text).
    *
    * Joined on the DROP list, not the keep list: real corpora dedup
    * away a few percent, so the keep list is corpus-sized (a semi
    * join against it shuffles every full row — the measured bulk of
    * the q177 chain's exact-dedup stage at 1000×: the whole full-row
    * corpus moved to drop a few thousand rows) while the drop list
    * is dup-sized. The
    * LEFT ANTI against (id, keep_id) mismatches is AQE-broadcast at
    * typical dup rates, so the full rows never shuffle at all; at
    * pathological dup rates (drop list corpus-sized) it degrades to
    * exactly the old semi-join cost, never worse. Same kept set by
    * construction for NON-NULL ids: id ∉ drops ⇔ id = min(id) of its
    * fingerprint group. NULL-id rows PASS THROUGH undeduplicated (an
    * anti join never matches a NULL key) — the defined semantics,
    * spec-pinned: a row without an identity cannot be a dedup keeper
    * or victim. (The pre-r9 keep-list semi join silently DROPPED
    * every NULL-id row — worse than either alternative.)
    *
    * PRECONDITION: non-NULL ids are UNIQUE (idCol is a row identity).
    * Under duplicate ids the drop-list formulation drops EVERY row
    * sharing an id with any non-keeper (the keep-list semi join would
    * instead keep every row sharing a keeper id) — neither is a
    * meaningful dedup when "id" does not identify a row, so the
    * contract is explicit rather than an accident of join shape. */
  def dropExactDups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fpId = docs.select(xxhash64(col(textCol)).as("fp"), col(idCol))
    val keeps = fpId.groupBy(col("fp")).agg(min(col(idCol)).as("__keep"))
    val drops = fpId.join(keeps, Seq("fp"))
      .filter(col(idCol) =!= col("__keep"))
      .select(idCol)
    docs.join(drops, Seq(idCol), "left_anti")
  }

  // MinHash signatures and LSH band buckets are native codegen'd
  // expressions (graft.functions.minhash_sig / minhash_bands, see
  // functions.TextHash): a higher-order-function formulation
  // (transform/aggregate) is interpreted per lambda element and
  // measured 20×+ slower on the same corpus.

  /** Candidate pairs from a bucketed (bucketCols…, id) relation in ONE
    * shuffle: group each bucket's ids and expand the C(n,2) pairs in
    * place (a self-join on the bucket columns would shuffle the
    * relation twice more). Oversized buckets (degenerate content, e.g.
    * empty-text clusters) are dropped BEFORE the collect_set — a window
    * count over the same partition keys rides the same hash shuffle
    * (no extra exchange) and keeps a degenerate bucket from ever being
    * buffered in one aggregation row or expanded to C(n,2) structs.
    * Near-dup buckets are tiny by construction — that is what makes
    * LSH sub-quadratic.
    *
    * Precondition: at most one row per (bucketCols…, id) tuple — every
    * producer in this module emits exactly that. The over-cap filter
    * counts ROWS (pre-aggregation, riding the shuffle); duplicate id
    * rows would inflate the count and could drop a bucket whose
    * distinct-id size is under the cap.
    *
    * Drops are observable, not silent: pass an [[Observation]] and read
    * `dropped_rows` (rows belonging to over-cap buckets) and
    * `max_bucket_size` after the action — at corpus scale a nonzero
    * counter is the signal to widen block bits or raise `maxBucket`. */
  def pairsFromBuckets(bucketed: DataFrame, bucketCols: Seq[String],
      maxBucket: Int,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // Bucket sizes as an AGGREGATE joined back, not a window: a
    // window count must SORT the full banded relation inside each
    // partition, and the 1000× stage probe put that sort at the top
    // of the near-dup chain's cost once it stops fitting in memory
    // (the aggregate's partial combine ships only distinct-bucket
    // partials, and the join back is a hash join on the same key the
    // collect_set group reuses — no wide sort anywhere). Same drop
    // semantics and the same observability: Σ n over over-cap buckets
    // IS the number of dropped rows.
    val sizes = bucketed.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val observed = obs.fold(sizes)(o => sizes.observe(o,
      sum(when(col("__n") > maxBucket, col("__n")).otherwise(0L))
        .as("dropped_rows"),
      max(col("__n")).as("max_bucket_size")))
    bucketed
      .join(observed.filter(col("__n") >= 2 && col("__n") <= maxBucket),
        bucketCols)
      .groupBy(bucketCols.map(col): _*)
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |            y -> struct(x AS id_a, y AS id_b))))""".stripMargin))
        .as("p"))
      .select(col("p.id_a"), col("p.id_b")).distinct()
  }

  /** Exact word-shingle Jaccard between two token-set columns. BOTH
    * inputs must be distinct and binary-sorted — what `shingle_set`
    * and `array_sort(array_distinct(...))` emit — so the intersection
    * runs through the zero-allocation two-pointer kernel instead of
    * `array_intersect`'s per-row hash set. */
  def jaccard(aSet: Column, bSet: Column): Column = {
    val inter = graft.functions.sorted_intersect_count(aSet, bSet)
      .cast("double")
    inter / (size(aSet) + size(bSet) - inter).cast("double")
  }

  /** Full near-dup pipeline: LSH candidates → exact Jaccard verify →
    * pairs above threshold. One code path with
    * [[nearDupPairsFromSignatures]]: the text form just derives the
    * signature relation inline (Catalyst prunes `sh` off the banding
    * branch and `bands` off the verify branch, so the plan matches
    * the old two-projection form). */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleWidth: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 4): DataFrame =
    nearDupPairsFromSignatures(
      nearDupSignatures(docs, idCol, textCol, shingleWidth, bands,
        rowsPerBand), threshold)

  /** Relations whose Catalyst size estimate falls at or below this
    * skip the candidate-id semi-join prune in the signature dedup
    * paths: the prune's extra exchange + joins are a fixed plan cost
    * that buys a saving linear in corpus size (not shingling/shuffling
    * non-candidates — the 1000× wall), so at benchmark scale it costs
    * more than it saves (the r8 bench drift on q23/q64/q112, isolated
    * r9: +0.3–1.0 s each at sf0.1). Plan statistics are free; join
    * products over-estimate, erring toward the prune — the right
    * direction at scale — and both plans are value-identical. */
  val SmallRelationBytes: Long = 32L * 1024 * 1024

  private def isSmall(df: DataFrame): Boolean = {
    val s = df.queryExecution.optimizedPlan.stats.sizeInBytes
    s.isValidLong && s.toLong <= SmallRelationBytes
  }

  /** [[nearDupPairs]] over a MATERIALIZED [[nearDupSignatures]]
    * relation — the lake layout: signatures are computed once at
    * ingest (the round-8 `DocStream` persists them per batch) and
    * every later dedup pass reads `(id, bands, sh)`, never the text.
    * Identical output to the text form under the same signature
    * parameters. */
  def nearDupPairsFromSignatures(sigs: DataFrame, threshold: Double,
      maxBucket: Int = 1000): DataFrame = {
    val banded = sigs.select(col("id"),
      posexplode(col("bands")).as(Seq("band", "bucket")))
    val cands = pairsFromBuckets(banded, Seq("band", "bucket"), maxBucket)
    // verify side pruned to CANDIDATE ids before the expensive work:
    // the LSH premise is |candidates| ≪ corpus, so the shingle arrays
    // of non-candidates should never be computed (text path) or
    // shuffled (stored path). The left-semi join pushes BELOW the
    // signature projection (PushDownLeftSemiAntiJoin — the condition
    // only needs `id`), so shingle_set runs on survivors only, and
    // AQE turns the semi into a broadcast probe at candidate-id
    // sizes; the candIds exchange is shared with the pair joins
    // within the one action. 1000× measured: the full-corpus
    // shingle-array build was the same gram-string wall the
    // decontaminate stage hit. Benchmark-sized relations skip the
    // prune ([[SmallRelationBytes]] — same output, fewer exchanges).
    val candIds = cands.select(col("id_a").as("id"))
      .unionByName(cands.select(col("id_b").as("id"))).distinct()
    val sh = (if (isSmall(sigs)) sigs
      else sigs.join(candIds, Seq("id"), "left_semi"))
      .select(col("id"), col("sh"))
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Cross-corpus near-dup join — [[nearDupPairs]] BETWEEN two
    * corpora (train × eval: document-level decontamination, the
    * set-overlap complement of `Decontaminate`'s n-gram containment;
    * or incremental dedup of a new batch against the lake). Both
    * sides band with the SAME MinHash constants and meet in a plain
    * (band, bucket) equi-join — O(docs × bands) shuffled rows, never
    * |A|·|B| — then exact Jaccard verifies candidates, so precision
    * is exact and recall is the standard LSH s-curve. Per-side bucket
    * caps (window counts riding the shuffle partitioning) drop
    * degenerate buckets before the join can explode; pass `obs` to
    * count the dropped rows ([[pairsFromBuckets]]' observability
    * contract).
    */
  def crossNearDupPairs(left: DataFrame, leftId: String, leftText: String,
      right: DataFrame, rightId: String, rightText: String,
      threshold: Double, shingleWidth: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 4, maxBucket: Int = 1000,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame =
    crossNearDupPairsVsSignatures(left, leftId, leftText,
      nearDupSignatures(right, rightId, rightText, shingleWidth, bands,
        rowsPerBand),
      threshold, shingleWidth, bands, rowsPerBand, maxBucket, obs)

  /** One-row-per-doc near-dup SIGNATURE relation — `(id, bands, sh)`:
    * the LSH band buckets (candidate face) and the sorted distinct
    * shingle set (exact-verify face), both derived from the text ONCE.
    * Persist this next to an accepted/lake corpus and every later
    * incremental or streaming dedup against it reads the signatures —
    * the corpus text is never re-read, never re-shingled
    * ([[crossNearDupPairsVsSignatures]]). Storage is O(docs × (bands +
    * shingles)) — the same rows the text-side plan materializes
    * transiently per run, paid once. */
  def nearDupSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, bands: Int = 8, rowsPerBand: Int = 4): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.minhash_bands(col(textCol), shingleWidth, bands,
        rowsPerBand).as("bands"),
      graft.functions.shingle_set(col(textCol), shingleWidth).as("sh"))

  /** [[crossNearDupPairs]] where the RIGHT side is a precomputed
    * [[nearDupSignatures]] relation. The signature schema carries no
    * text column at all, so re-shingling the right corpus is
    * statically impossible — the candidate join reads `bands`, the
    * exact-Jaccard verify reads `sh`. Identical output to the
    * text-to-text form when the signatures were computed with the
    * same (shingleWidth, bands, rowsPerBand); the caller owns that
    * parameter agreement. */
  def crossNearDupPairsVsSignatures(left: DataFrame, leftId: String,
      leftText: String, rightSigs: DataFrame, threshold: Double,
      shingleWidth: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      maxBucket: Int = 1000,
      obs: Option[org.apache.spark.sql.Observation] = None,
      smallRelationBytes: Long = SmallRelationBytes): DataFrame = {
    def small(df: DataFrame): Boolean =
      smallUnder(df, smallRelationBytes)
    val cands = crossBandCandidates(left, leftId, leftText, rightSigs,
      shingleWidth, bands, rowsPerBand, maxBucket, obs, small)
    // verify sides pruned to candidate ids before shingling/shuffling
    // (the nearDupPairsFromSignatures note: non-candidates' shingle
    // arrays are the avoidable cost when both sides are corpora);
    // benchmark-sized sides skip the prune (SmallRelationBytes)
    val shR = (if (small(rightSigs)) rightSigs
      else rightSigs.join(cands.select(col("id_b").as("id")).distinct(),
        Seq("id"), "left_semi"))
      .select(col("id").as("id_b"), col("sh").as("sh_b"))
    verifyCandidates(cands, left, leftId, leftText, shR, threshold,
      shingleWidth, small)
  }

  private def smallUnder(df: DataFrame, bytes: Long): Boolean = {
    val s = df.queryExecution.optimizedPlan.stats.sizeInBytes
    s.isValidLong && s.toLong <= bytes
  }

  /** Banded LSH candidate pairs of the signature cross-dedup — shared
    * verbatim by [[crossNearDupPairsVsSignatures]] (lazy semi-join
    * verify fetch) and [[crossNearDupPairsVsSignaturesFetched]]
    * (collected-id pushdown fetch), so the two variants can only
    * differ in HOW candidate shingle sets reach the verify join,
    * never in which pairs are candidates. */
  private def crossBandCandidates(left: DataFrame, leftId: String,
      leftText: String, rightSigs: DataFrame,
      shingleWidth: Int, bands: Int, rowsPerBand: Int, maxBucket: Int,
      obs: Option[org.apache.spark.sql.Observation],
      small: DataFrame => Boolean): DataFrame = {
    val lb0 = leftBandFace(left, leftId, leftText, shingleWidth, bands,
      rowsPerBand)
    val rb0 = rightSigs.select(col("id").as("id_b"),
      posexplode(col("bands")).as(Seq("band", "bucket")))
    // the right side's cap needs per-bucket SIZES, and computing them
    // over the whole stored-signature relation shuffles the accepted
    // corpus once per call — the per-batch linear cost of the
    // streaming steady state. Buckets that never meet the left side
    // can't produce candidates, and a semi join on the bucket KEY
    // keeps surviving buckets WHOLE, so per-bucket counts (and the
    // cap decision, and the output) are identical computed after the
    // prune. For a micro-batch left the distinct bucket set
    // broadcasts and the accepted side never shuffles at all; for
    // corpus × corpus it degrades to one extra shuffled semi join —
    // which is why the benchmark-scale gate keeps the direct plan.
    val rbBase =
      if (small(rightSigs)) rb0
      else rb0.join(lb0.select(col("band"), col("bucket")).distinct(),
        Seq("band", "bucket"), "left_semi")
    bandJoinCandidates(lb0, rbBase, maxBucket, obs)
  }

  /** The batch side of the banded candidate join — `(id_a, band,
    * bucket)`, one row per (doc, band). */
  private def leftBandFace(left: DataFrame, leftId: String,
      leftText: String, shingleWidth: Int, bands: Int,
      rowsPerBand: Int): DataFrame =
    left.select(col(leftId).as("id_a"),
      posexplode(graft.functions.minhash_bands(col(leftText), shingleWidth,
        bands, rowsPerBand)).as(Seq("band", "bucket")))

  /** Shared tail of every candidate variant: cap degenerate buckets on
    * BOTH sides, join on (band, bucket), distinct pairs. `rb` arrives
    * already pruned (semi join, index lookup, or whole for small
    * stores) — bucket-key pruning keeps buckets WHOLE, so the per-
    * bucket counts (and the cap decision, and the output) are
    * identical across variants by construction. Per-side bucket sizes
    * come from an aggregate joined back (not a window — see
    * pairsFromBuckets: the window's full-relation sort is the
    * third-decade wall); the join key is the same (band, bucket) the
    * candidate join uses next, so the exchange is shared. */
  private def bandJoinCandidates(lb0: DataFrame, rb: DataFrame,
      maxBucket: Int,
      obs: Option[org.apache.spark.sql.Observation]): DataFrame = {
    def capped(df: DataFrame) = {
      val sizes = df.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("__n"))
      df.join(sizes, Seq("band", "bucket"))
    }
    val lb = capped(lb0)
    val rbc = capped(rb.select(col("id_b"), col("band"), col("bucket")))
    val observed = obs.fold(lb)(o => lb.observe(o,
      sum(when(col("__n") > maxBucket, 1L).otherwise(0L)).as("dropped_rows"),
      max(col("__n")).as("max_bucket_size")))
    observed.filter(col("__n") <= maxBucket)
      .join(rbc.filter(col("__n") <= maxBucket).withColumnRenamed("__n", "__m"),
        Seq("band", "bucket"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Exact-Jaccard verify over candidate pairs: left shingle sets from
    * the batch text (pruned to candidates on the scale path), right
    * shingle sets from whatever fetch the caller chose. */
  private def verifyCandidates(cands: DataFrame, left: DataFrame,
      leftId: String, leftText: String, shR: DataFrame, threshold: Double,
      shingleWidth: Int, small: DataFrame => Boolean): DataFrame = {
    val shL = (if (small(left)) left
      else left.join(cands.select(col("id_a").as(leftId)).distinct(),
        Seq(leftId), "left_semi"))
      .select(col(leftId).as("id_a"),
        graft.functions.shingle_set(col(leftText), shingleWidth).as("sh_a"))
    cands.join(shL, Seq("id_a")).join(shR, Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Row-group size for [[writeSignatures]]: smaller groups than the
    * parquet default (128 MB) make bloom/min-max skipping on the
    * fetch path proportionally finer — a candidate fetch decodes only
    * the groups that MIGHT hold a candidate id, so the unit of wasted
    * decode is one group. The full-scan faces (the banded candidate
    * join projects `(id, bands)`) pay only a few extra footer entries
    * per file. */
  val SigRowGroupBytes: Long = 16L * 1024 * 1024

  /** How many distinct candidate ids
    * [[crossNearDupPairsVsSignaturesFetched]] will collect to the
    * driver and push into the stored-signature scan as an `IN(id)`
    * predicate. Above the cap it falls back to the lazy semi-join
    * fetch — correctness never depends on the cap, only the scan
    * shape does. 100k ids ≈ single-digit MB on the driver, and the
    * parquet reader probes each row group's bloom filter with the
    * set, so the cap bounds both driver memory and per-row-group
    * filter work. */
  val MaxFetchIds: Int = 100000

  /** How many VERIFIED pairs [[crossNearDupPairsVsSignaturesFetched]]
    * will hold on the driver as its local-relation result. The id cap
    * above bounds the fetch, not the pair count (a dup-heavy batch can
    * verify far more pairs than it has distinct stored matches), so
    * the localization is bounded separately: past this many pairs the
    * call returns the DISTRIBUTED verify plan instead — identical
    * rows, no driver materialization. ~1M pair rows ≈ tens of MB. */
  val MaxLocalPairs: Int = 1000000

  /** How many distinct (band, bucket) keys
    * [[crossNearDupPairsVsSignaturesIndexed]] will collect and
    * broadcast as a [[BandIndex]] probe set — |batch| × bands keys at
    * ~12 B each, so the default admits ~250k-doc batches at ~24 MB
    * broadcast. Past the cap the call falls back to the lazy-scan
    * variant ([[crossNearDupPairsVsSignaturesFetched]]) — identical
    * output, no driver materialization of the key set; a batch that
    * large amortizes a full face scan anyway. */
  val MaxLookupKeys: Int = 2000000

  /** Write a [[nearDupSignatures]] relation as the engine's SIGNATURE
    * STORE layout: snappy parquet with a parquet BLOOM FILTER on `id`
    * and rows id-sorted within each file (row-group min/max on `id`
    * become tight, disjoint ranges). Both indexes serve the
    * candidate-id fetch ([[crossNearDupPairsVsSignaturesFetched]]):
    * the pushed `IN(id)` predicate skips every row group whose bloom
    * filter and id-range exclude all candidates, so the bytes DECODED
    * per fetch scale with the candidate count, not the store — the
    * lever that turns the ingest stream's per-batch linear
    * stored-`sh` scan into an indexed point lookup. Plain parquet
    * written elsewhere stays readable by every consumer; the extra
    * indexes only change what a FILTERED scan has to touch. */
  def writeSignatures(sigs: DataFrame, path: String, numFiles: Int = 0): Unit = {
    // resharding (the fold path) range-partitions on id so FILE and
    // row-group id ranges are disjoint and tight — min/max and the
    // page-level column index then skip deterministically, with the
    // bloom filter catching in-range misses. numFiles = 0 (the
    // per-batch write: one small file) keeps the input partitioning
    // and only sorts locally — a batch file's footer min/max still
    // brackets its ids, and folding rewrites it into the ranged
    // layout anyway
    val part =
      if (numFiles > 0) sigs.repartitionByRange(numFiles, col("id"))
      else sigs
    part.sortWithinPartitions("id")
      .write.mode("overwrite")
      .option("compression", "snappy")
      .option("parquet.bloom.filter.enabled#id", "true")
      // bloom sized for the ids one 16 MB row group can actually hold
      // (≥ ~100 B/row → ≤ ~160k ids); the parquet default otherwise
      // pads every row group's bloom to the 1 MB cap, which at small
      // row groups costs more read bytes than the skipped data saves
      .option("parquet.bloom.filter.expected.ndv#id", "200000")
      .option("parquet.block.size", SigRowGroupBytes.toString)
      .parquet(path)
  }

  /** [[crossNearDupPairsVsSignatures]] for a BATCH-sized left side
    * against a LARGE stored signature relation — the ingest stream's
    * steady-state shape — with the exact-verify fetch PUSHED INTO the
    * stored parquet scan instead of semi-joined above it. The lazy
    * variant's semi join never shuffles the stored side, but it still
    * SCANS the whole stored `sh` column every batch (the measured
    * ~0.16 s per 100k accepted docs linear floor of the 200-batch
    * probe); here the distinct candidate ids (bounded by
    * `maxFetchIds`, the LSH premise says few) are collected and
    * pushed as an `IN(id)` filter, which the parquet reader evaluates
    * against each row group's bloom filter and id min/max
    * ([[writeSignatures]] layout) — row groups holding no candidate
    * are never decoded, so per-batch stored-side bytes become
    * O(candidates), not O(accepted corpus).
    *
    * EAGER up to [[MaxLocalPairs]]: candidates are materialized once
    * (the collect that feeds the pushdown), and the verified pairs are
    * returned as a driver-local relation, which downstream anti joins
    * broadcast for free. Both bounds have distributed fallbacks, so
    * no input shape can overload the driver: past `maxFetchIds`
    * distinct candidate ids the verify fetch falls back to the lazy
    * semi join on the same materialized candidates, and past
    * [[MaxLocalPairs]] verified pairs (a dup-heavy batch) the call
    * returns the distributed verify plan instead of collecting it.
    * Output is value-identical to [[crossNearDupPairsVsSignatures]]
    * under the same parameters on every path. */
  def crossNearDupPairsVsSignaturesFetched(left: DataFrame, leftId: String,
      leftText: String, rightSigs: DataFrame, threshold: Double,
      shingleWidth: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      maxBucket: Int = 1000,
      obs: Option[org.apache.spark.sql.Observation] = None,
      smallRelationBytes: Long = SmallRelationBytes,
      maxFetchIds: Int = MaxFetchIds,
      maxLocalPairs: Int = MaxLocalPairs): DataFrame = {
    def small(df: DataFrame): Boolean =
      smallUnder(df, smallRelationBytes)
    // a benchmark-sized store: the lazy plan reads it whole anyway —
    // one action, no candidate materialization, same values
    if (small(rightSigs)) {
      val direct = crossNearDupPairsVsSignatures(left, leftId,
        leftText, rightSigs, threshold, shingleWidth, bands, rowsPerBand,
        maxBucket, obs, smallRelationBytes)
      return localizedUnder(direct, maxLocalPairs).getOrElse(direct)
    }
    val cands = crossBandCandidates(left, leftId, leftText, rightSigs,
      shingleWidth, bands, rowsPerBand, maxBucket, obs, small)
    fetchVerifyLocalize(cands, left, leftId, leftText, rightSigs,
      threshold, shingleWidth, small, maxFetchIds, maxLocalPairs)
  }

  /** Localize `df` as a driver-local relation iff it holds at most
    * `maxLocalPairs` rows (downstream anti joins then broadcast it for
    * free); None past the bound. */
  private def localizedUnder(df: DataFrame,
      maxLocalPairs: Int): Option[DataFrame] = {
    val rows = df.limit(maxLocalPairs + 1).collect()
    if (rows.length <= maxLocalPairs)
      Some(df.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), df.schema))
    else None
  }

  /** Shared tail of the indexed fetch variants: pin the candidate
    * relation, collect the distinct candidate ids (bounded), push them
    * into the stored scan as `IN(id)` (falling back to the lazy semi
    * join past the bound), exact-verify, and localize the result.
    *
    * Candidates are pinned as a persisted RDD, NOT a Dataset cache:
    * the over-[[MaxLocalPairs]] fallback RETURNS a distributed plan
    * that still reads the pinned rows (so the dup-heavy pathological
    * batch never recomputes the banded join), and only an RDD persist
    * is safe to hand off that way — Dataset caches live in the SQL
    * CacheManager behind a strong reference that nothing ever
    * releases, while an RDD persist is weak-referenced by the
    * ContextCleaner and its blocks are freed once the returned plan
    * becomes unreachable. The localized (normal) path and every error
    * path unpersist eagerly.
    *
    * `release` frees per-call upstream state the candidate plan's
    * LINEAGE still references (the indexed variant's lookup
    * broadcast): it is invoked exactly on the paths where no returned
    * plan can re-execute that lineage — the localized (normal) path
    * and every error path — and deliberately NOT on the
    * over-[[MaxLocalPairs]] distributed fallback, whose returned plan
    * may recompute lost candidate blocks through it (there the
    * broadcast's lifetime is tied to the plan's reachability and the
    * ContextCleaner reclaims it — one outstanding plan's worth, not a
    * per-batch accumulation). */
  private def fetchVerifyLocalize(candsPlan: DataFrame, left: DataFrame,
      leftId: String, leftText: String, rightSigs: DataFrame,
      threshold: Double, shingleWidth: Int, small: DataFrame => Boolean,
      maxFetchIds: Int, maxLocalPairs: Int,
      release: () => Unit = () => ()): DataFrame = {
    val candsRdd = candsPlan.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cands = candsPlan.sparkSession
        .createDataFrame(candsRdd, candsPlan.schema)
      val fetchIds = cands.select(col("id_b")).distinct()
        .limit(maxFetchIds + 1).collect()
      // no candidates → no pairs, and isin() over an empty id set
      // shouldn't have to reach the scan at all
      val verified =
        if (fetchIds.isEmpty)
          verifyCandidates(cands, left, leftId, leftText,
            rightSigs.select(col("id").as("id_b"), col("sh").as("sh_b"))
              .limit(0), threshold, shingleWidth, small)
        else {
          val shR = (
            if (fetchIds.length <= maxFetchIds)
              rightSigs.filter(col("id").isin(fetchIds.map(_.get(0)).toSeq: _*))
            else rightSigs.join(cands.select(col("id_b").as("id")).distinct(),
              Seq("id"), "left_semi"))
            .select(col("id").as("id_b"), col("sh").as("sh_b"))
          verifyCandidates(cands, left, leftId, leftText, shR,
            threshold, shingleWidth, small)
        }
      localizedUnder(verified, maxLocalPairs) match {
        case Some(local) =>
          candsRdd.unpersist(blocking = false); release(); local
        case None => verified
      }
    } catch {
      case e: Throwable =>
        candsRdd.unpersist(blocking = false)
        try release() catch { case _: Throwable => () }
        throw e
    }
  }

  /** [[crossNearDupPairsVsSignaturesFetched]] with the stored BANDED
    * CANDIDATE FACE answered by a [[BandIndex]] instead of a scan —
    * the ingest stream's steady-state candidate path. The fetched
    * variant indexed the exact-verify face (`sh`: bloom + ranged row
    * groups + `IN(id)` pushdown — decode O(candidates)), but its
    * candidate join still SCANNED the stored `(id, bands)` projection
    * whole every batch, the measured residual linear term of the
    * 200-batch probe (~40 B/doc ≈ 400 MB warm at 10M accepted docs).
    * Storage-side pruning cannot remove that term — minhash buckets
    * are uniform, so a batch's ~|batch|×bands keys hit every block of
    * any scan-oriented layout (see [[BandIndex]]) — so the face moves
    * to an executor-resident sorted index built once per immutable
    * store snapshot: per-batch stored-side work becomes
    * O(batch keys × log + matched rows).
    *
    * Faces: `allSigs` is the WHOLE stored relation (exact-verify
    * fetch, and the fallback paths); `index` covers an immutable
    * SUBSET of it (the ingest sink's folded generations); `freshSigs`
    * is the remainder (not-yet-folded batch partitions — bounded by
    * compactEvery, so its per-batch explode+semi-join is O(recent
    * batches), not O(corpus)). The caller owns the invariant
    * `allSigs rows = indexed rows ∪ freshSigs rows` (disjoint);
    * under it the output is value-identical to
    * [[crossNearDupPairsVsSignatures]] on `allSigs`: the index lookup
    * returns exactly the rows the lazy bucket-semi-join keeps, fresh
    * rows take the same semi join against the same key set, and the
    * union feeds the same capped band join
    * ([[bandJoinCandidates]] — buckets stay whole across the split,
    * so per-bucket counts match by construction).
    *
    * Driver bounds, each with a distributed/lazy fallback: the probe
    * key set collects up to `maxLookupKeys` (past it: the fetched
    * variant, whole-face scan, same values), candidate ids up to
    * `maxFetchIds`, verified pairs localize up to `maxLocalPairs`
    * (both as in the fetched variant). */
  def crossNearDupPairsVsSignaturesIndexed(left: DataFrame, leftId: String,
      leftText: String, allSigs: DataFrame, index: BandIndex,
      freshSigs: Option[DataFrame], threshold: Double,
      shingleWidth: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      maxBucket: Int = 1000,
      obs: Option[org.apache.spark.sql.Observation] = None,
      smallRelationBytes: Long = SmallRelationBytes,
      maxFetchIds: Int = MaxFetchIds,
      maxLocalPairs: Int = MaxLocalPairs,
      maxLookupKeys: Int = MaxLookupKeys): DataFrame = {
    def small(df: DataFrame): Boolean =
      smallUnder(df, smallRelationBytes)
    val spark = left.sparkSession
    val lb0 = leftBandFace(left, leftId, leftText, shingleWidth, bands,
      rowsPerBand)
    val keyFace = lb0.select(col("band"), col("bucket"))
    val keyRows = keyFace.distinct().limit(maxLookupKeys + 1).collect()
    if (keyRows.length > maxLookupKeys)
      return crossNearDupPairsVsSignaturesFetched(left, leftId, leftText,
        allSigs, threshold, shingleWidth, bands, rowsPerBand, maxBucket,
        obs, smallRelationBytes, maxFetchIds, maxLocalPairs)
    // the release handle is idempotent (guarded inside
    // lookupReleasable), so the multiple exit paths below can each
    // call it without a second-destroy SparkException masking the
    // original failure
    val (rbIdx, release) = index.lookupReleasable(spark,
      keyRows.map(r => (r.getInt(0), r.getLong(1))))
    try {
      val rb = freshSigs match {
        case None => rbIdx
        case Some(fresh) =>
          val keysRel = spark.createDataFrame(
            java.util.Arrays.asList(keyRows: _*), keyFace.schema)
          rbIdx.unionByName(
            fresh.select(col("id").cast("long").as("id_b"),
              posexplode(col("bands")).as(Seq("band", "bucket")))
              .join(keysRel, Seq("band", "bucket"), "left_semi"))
      }
      val cands = bandJoinCandidates(lb0, rb, maxBucket, obs)
      fetchVerifyLocalize(cands, left, leftId, leftText, allSigs,
        threshold, shingleWidth, small, maxFetchIds, maxLocalPairs,
        release)
    } catch {
      case e: Throwable =>
        try release() catch { case _: Throwable => () }
        throw e
    }
  }

  /** Directional shingle CONTAINMENT pairs — the sub-document dedup
    * face symmetric Jaccard misses: a short doc quoted whole inside a
    * long one scores |A∩B|/|A| ≈ 1 while its Jaccard is tiny, so the
    * MinHash-LSH candidate path (tuned to the Jaccard s-curve) would
    * never propose the pair. Candidates come from a PREFIX-FILTERED
    * inverted shingle index (the all-pairs similarity-join bound,
    * Bayardo/Ma/Srikant WWW'07): order every doc's shingles by global
    * rarity (df asc, shingle asc); for C(A,B) ≥ t to hold, B must
    * contain ≥ ⌈t·|A|⌉ of A's kept shingles, so it must contain at
    * least one of A's (kept − ⌈t·|A|⌉ + 1) RAREST shingles — only
    * that prefix is indexed on the A side, and candidates are its
    * join against the full kept postings. Every candidate pair is
    * then verified EXACTLY (array_intersect of the two kept shingle
    * sets over |A|'s full count), so the result is identical to the
    * naive Σ df² posting self-join — both directions emitted (the
    * measure is asymmetric), the same rounding, the same threshold.
    *
    * Scale: candidate volume is Σ_s prefix_count(s)·df(s) instead of
    * Σ_s df(s)² — the prefix is rarest-first, so the join keys are
    * precisely the shingles with SHORT posting lists (measured on the
    * 10× salted probe corpus: 381 s → single-digit seconds for the
    * identical output). Shingles with df above `maxShingleDf` are
    * still dropped entirely (stopword n-grams carry no containment
    * signal; drops observable via `obs`: `dropped_shingles`,
    * `max_shingle_df`) — with drops, containment can only
    * UNDERESTIMATE (the denominator stays the full shingle count), so
    * the threshold never admits a false pair; at oracle test scale
    * the default cap drops nothing and the result is exact (q154
    * relies on that). A doc whose kept count can't reach ⌈t·|A|⌉
    * indexes NOTHING — capped boilerplate docs prune themselves. */
  /** @param stage1BroadcastBytes BYTE ceiling for broadcasting the
    *        int-hash side of stage-1 verification. The actual
    *        constraint is bytes, not docs (corpora differ 100× in
    *        shingles/doc), so the relation's size is MEASURED — one
    *        aggregate over the kept-shingle relation
    *        ([[stage1HashRelationBytes]], the ChunkAuto probe
    *        pattern) — and compared against this ceiling. Under it,
    *        the stage-1 joins broadcast the hash relation and the
    *        candidate relation never shuffles again; over it, they
    *        fall back to shuffle joins (the 100× probe measured the
    *        plan flip at 5.7× wall on the dense corpus). The 400 MB
    *        default matches the old 10⁶-doc ceiling at the reference
    *        corpus's ~80 shingles/doc. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleWidth: Int = 3, maxShingleDf: Int = 1000,
      obs: Option[org.apache.spark.sql.Observation] = None,
      stage1BroadcastBytes: Long = 400L << 20): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val sets = docs.select(col(idCol).as("id"),
      graft.functions.shingle_set(col(textCol), shingleWidth).as("sh"))
    val sized = sets.select(col("id"), size(col("sh")).as("__nsh"))
    val inv = sets.select(col("id"), explode(col("sh")).as("s"))
    // document frequency: one row per DISTINCT shingle, so the drop
    // observation counts shingles directly (no row_number dedup trick)
    val dfs = inv.groupBy(col("s")).agg(count(lit(1)).as("__df"))
    // the Observation runs as its OWN action on the df profile: an
    // in-plan CollectMetrics is silently removed by AQE empty-relation
    // propagation whenever the pair result is empty (exactly when an
    // aggressive cap makes the drop report matter most), so delivery
    // must not depend on the main plan's shape
    obs.foreach { o =>
      dfs.observe(o,
        sum(when(col("__df") > maxShingleDf, 1L).otherwise(0L))
          .as("dropped_shingles"),
        max(col("__df")).as("max_shingle_df"))
        .groupBy().agg(count(lit(1))).head()
    }
    val kept = inv.join(dfs.filter(col("__df") <= maxShingleDf), Seq("s"))
    // per-doc kept shingles in global rarity order; minShared is the
    // smallest intersection count that can still pass the ROUNDED
    // threshold filter (the 1e-5 slack under-approximates round-to-6's
    // boundary — it can only lengthen the prefix, never skip a pair)
    // lazily checkpointed: SIX plan branches consume this relation
    // (prefix explode, posting explode, both stage-1 hash sides, both
    // stage-2 verify sides), and each un-materialized copy re-runs
    // the shingle build + df join + per-doc collect_list sort — the
    // r16 plan audit counted 96 Exchanges, six copies of the pipeline.
    // The first consumer materializes it once; values unchanged.
    // Cluster trade (unreplicated executor-local blocks; executor loss
    // fails the job instead of recomputing): see the canonical note in
    // Hierarchy.closureMove. This relation is O(corpus × kept-shingle
    // metadata) — the largest checkpointed relation in the repo; a
    // deployment whose containment pass must survive executor loss
    // should swap this for a parquet scratch (the Curation posture).
    val docArr = kept
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("__df"), col("s"))))
        .as("__ranked"))
      .join(sized, Seq("id"))
      .withColumn("__sarr", transform(col("__ranked"), _.getField("s")))
      // lex-sorted copy for the two-pointer verification kernel
      .withColumn("__lex", sort_array(col("__sarr")))
      .withColumn("__nkept", size(col("__sarr")))
      .withColumn("__minshared",
        ceil(col("__nsh") * lit(threshold - 1e-5)).cast("int"))
      .withColumn("__p", col("__nkept") - col("__minshared") + 1)
      .drop("__ranked")
      .localCheckpoint(false)
    val prefixes = docArr
      .select(col("id").as("id_a"), col("__minshared").as("__c"),
        col("__nkept").as("__na"),
        posexplode(slice(col("__sarr"), lit(1), greatest(col("__p"), lit(0)))))
      .select(col("id_a"), col("__c"), col("__na"),
        col("pos").as("__i"), col("col").as("s"))
    val postings = docArr
      .select(col("id").as("id_b"), col("__nkept").as("__nb"),
        posexplode(col("__sarr")))
      .select(col("id_b"), col("__nb"), col("pos").as("__j"), col("col").as("s"))
    // POSITIONAL filter (PPJoin): a collision on the shared shingle at
    // ranks (i, j) bounds the intersection by 1 + min(tail_A, tail_B);
    // the FIRST shared shingle of a qualifying pair always survives
    // (both tails then hold the remaining ≥ c−1 shared elements), so
    // recall stays exact while dense-corpus candidates collapse
    val candidates = prefixes.join(postings, Seq("s"))
      .filter(col("id_a") =!= col("id_b") &&
        lit(1) + least(col("__na") - 1 - col("__i"),
          col("__nb") - 1 - col("__j")) >= col("__c"))
      .select("id_a", "id_b").distinct()
    // Two-stage verification. Stage 1 screens every candidate with a
    // sorted-INT-HASH intersection: Murmur3 equality is implied by
    // shingle equality, so the hash count can only OVER-count — full
    // recall, with the per-pair payload shrunk from ~w strings to 4
    // bytes/shingle. On a dense corpus (candidates ≈ all pairs) the
    // payload shuffled per candidate is what dominates, so when the
    // doc side is broadcast-sized the stage-1 joins broadcast it and
    // the candidate relation never shuffles again (the ChunkAuto
    // pattern: one cheap count picks the plan, never the values).
    // Stage 2 re-verifies the (tiny) survivor set EXACTLY on the
    // lex-sorted string arrays — a stage-1 hash collision admits a
    // false survivor only as far as this filter, never into the
    // result.
    val docH = docArr.select(col("id"), col("__nsh"),
      col("__minshared").as("__c"),
      sort_array(transform(col("__sarr"), hash(_))).as("__hh"))
    // byte-aware broadcast choice: ONE aggregate-only pass over the
    // shingle-set projection (no shuffle, no joins — the ChunkAuto
    // probe shape) measures the PRE-CAP shingle total, an
    // over-estimate of the kept hash relation — so the choice can
    // only err toward the safe shuffle path, never broadcast too much
    val kstats = sets.agg(count(lit(1)).as("n"),
      sum(size(col("sh"))).as("k")).head()
    val estBytes = stage1HashRelationBytes(kstats.getLong(0),
      if (kstats.isNullAt(1)) 0L else kstats.getLong(1))
    def bcast(rel: DataFrame): DataFrame =
      if (estBytes <= stage1BroadcastBytes) broadcast(rel) else rel
    val survivors = candidates
      .join(bcast(docH.select(col("id").as("id_a"), col("__c"),
        col("__hh").as("__ha"))), Seq("id_a"))
      .join(bcast(docH.select(col("id").as("id_b"),
        col("__hh").as("__hb"))), Seq("id_b"))
      .filter(graft.functions.sorted_intersect_count(
        col("__ha"), col("__hb")) >= col("__c"))
      .select("id_a", "id_b")
    survivors
      .join(docArr.select(col("id").as("id_a"), col("__lex").as("__la"),
        col("__nsh")), Seq("id_a"))
      .join(docArr.select(col("id").as("id_b"), col("__lex").as("__lb")),
        Seq("id_b"))
      .withColumn("containment",
        round(graft.functions.sorted_intersect_count(
          col("__la"), col("__lb")).cast("double") /
          col("__nsh").cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Estimated serialized bytes of the stage-1 int-hash relation:
    * 4 B per kept shingle hash plus ~32 B per doc row (ids, counts,
    * array headers) — the quantity [[containmentPairs]] compares
    * against `stage1BroadcastBytes` to pick broadcast vs shuffle.
    * Deliberately simple integer arithmetic so a spec can pin the
    * choice at planted sizes. */
  private[graft] def stage1HashRelationBytes(nDocs: Long,
      keptShingles: Long): Long =
    nDocs * 32L + keptShingles * 4L

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    graft.sim.Similarity.hamming64(a, b)

  /** SimHash near-dup pairs with a FULL-RECALL bucketing: the 64-bit
    * signature splits into `maxHamming + 1` equal-width blocks and each
    * block is a bucket key in its own table. Pigeonhole: a pair within
    * `maxHamming` differing bits can touch at most `maxHamming` blocks,
    * so at least one block agrees — every true pair collides in some
    * table (the classic multi-block SimHash scheme; a single top-bits
    * prefix would silently miss pairs whose differing bits land in the
    * prefix, ~45% of them at maxHamming=3). Candidates expand per
    * bucket in one shuffle; exact Hamming verifies, so precision stays
    * exact.
    *
    * The pigeonhole guarantee needs `maxHamming + 1` blocks, and the
    * block count is capped at 8 (8-bit buckets already saturate at
    * ~10⁹ docs — 2⁵⁶ would be useless) — so full recall holds only for
    * `maxHamming ≤ 7`, enforced here rather than silently degraded. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, maxBucket: Int = 1000,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame =
    simhashPairsFromSigs(
      docs.select(col(idCol).as("id"),
        graft.functions.simhash64(col(textCol)).as("sig")),
      maxHamming, sigBits = 64, maxBucket = maxBucket, obs = obs)

  /** [[simhashPairs]] over PRECOMPUTED signatures — a 2-column (id, sig)
    * frame with `sigBits` meaningful low bits. Lets callers swap the
    * signature function (e.g. `TextOps.portableSimhash60` when the pair
    * set must be reproducible by an external SQL oracle) while keeping
    * the same full-recall blocking and exact-Hamming verification. */
  def simhashPairsFromSigs(sigs: DataFrame, maxHamming: Int,
      sigBits: Int = 64, maxBucket: Int = 1000,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"full-recall blocking supports maxHamming in [0, 7], got $maxHamming")
    require(sigBits >= 8 && sigBits <= 64, s"sigBits in [8, 64], got $sigBits")
    val nBlocks = maxHamming + 1
    val width = sigBits / nBlocks
    val mask = if (width == 64) -1L else (1L << width) - 1
    // The signature RIDES the bucket shuffle as an 8-byte payload on a
    // struct id instead of being joined back per side: the old
    // two-join verify planned the `sigs` subtree three times (banding
    // + both join sides), recomputing a decode-backed signature
    // pipeline (audio/video fingerprints, simhash over text) once per
    // copy — profiled r16 as 3 × ~1.5–3 s jobs on q191. Guide §2.3:
    // shuffle keys and metadata instead of re-deriving payloads. The
    // struct sorts by id first (ids are distinct), so bucket pair
    // enumeration, the dedup, and the emitted rows are identical to
    // the join-back form.
    val keyed = sigs.select(struct(col("id"), col("sig")).as("id"))
    val bucketed = keyed.select(col("id"),
      posexplode(array((0 until nBlocks).map(t =>
        shiftrightunsigned(col("id.sig"), t * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("table", "bucket")))
    pairsFromBuckets(bucketed, Seq("table", "bucket"), maxBucket, obs)
      .withColumn("hamming",
        hamming64(col("id_a.sig"), col("id_b.sig")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a.id").as("id_a"), col("id_b.id").as("id_b"),
        col("hamming"))
  }

  /** Embedding-cosine near-dup pairs: all-pairs exact cosine above a
    * threshold. Exact and O(n²) — the correctness baseline; use
    * [[cosineDupPairsLsh]] at scale. */
  def cosineDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    import graft.sim.Similarity
    val a = vectors.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = vectors.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(Similarity.cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Scale path for embedding near-dup: random-hyperplane LSH buckets
    * bound the candidate space; exact cosine verifies, so precision is
    * exact. Recall math: a pair at cosine c agrees on one hyperplane
    * sign with p = 1 − arccos(c)/π, collides in one table with p^bits,
    * and is found with 1 − (1 − p^bits)^tables. The defaults
    * (bits=16, tables=4) target NEAR-IDENTITY dedup (c ≥ 0.999 →
    * recall ≈ 1); at looser thresholds they under-recall badly
    * (c = 0.9 → recall ≈ 0.29) — drop `bits` and/or raise `tables`
    * accordingly (c = 0.9 recall ≥ 0.95 needs e.g. bits=8, tables=10).
    * Shuffle volume is O(n · tables) ids, never O(n²) vectors. */
  def cosineDupPairsLsh(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 16, tables: Int = 4, dim: Int = 64,
      maxBucket: Int = 1000): DataFrame = {
    import graft.sim.Similarity
    val bucketed = vectors.select(col(idCol).as("id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("table"),
          Similarity.lshBucket(col(vecCol), bits, dim, seedOffset = t * bits)
            .as("bucket"))): _*)).as("tb"))
      .select(col("id"), col("tb.table"), col("tb.bucket"))
    val cands = pairsFromBuckets(bucketed, Seq("table", "bucket"), maxBucket)
    val vs = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    cands
      .join(vs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cosine", round(Similarity.cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Jaccard of every document against a fixed probe token set — the
    * SQL-checkable face of n-gram Jaccard similarity. */
  def jaccardToProbe(docs: DataFrame, idCol: String, textCol: String,
      probeTokens: Seq[String]): DataFrame = {
    val probe = array(probeTokens.distinct.sorted.map(lit): _*)
    docs.select(col(idCol),
      round(jaccard(TextOps.tokenSet(col(textCol)), probe), 6).as("jaccard"))
  }

  /** Connected components over the near-dup pair relation — the step
    * that turns pairwise matches into dedup GROUPS. Pairs alone cannot
    * drive "keep one per cluster": near-duplication is not transitive
    * (a~b, b~c, a≁c), but the keep decision must be — so the industry
    * contract is "drop all but one per CONNECTED COMPONENT".
    *
    * Algorithm: iterative minimum-label propagation. Every node starts
    * labeled with its own id; each round adopts the minimum label among
    * itself and its neighbors; fixpoint = component min everywhere.
    * Each round is ONE shuffle (a (dst, label) groupBy-min) over the
    * edge relation, and near-dup graphs from bucket collisions have
    * tiny diameters, so rounds stay low. Lineage is truncated per round
    * with an eager localCheckpoint — without it the plan tree doubles
    * every iteration. The convergence check rides the same materialized
    * round (no extra pass over un-cached data), and the round it
    * supersedes is released then, so a long propagation holds two
    * rounds' blocks at most, not every round's until a driver GC.
    *
    * At 100 TB: rounds = O(component diameter); for adversarial chain
    * graphs swap in the alternating large-star/small-star contraction —
    * the per-round plan here is the shared building block.
    *
    * Returns (id, cluster) for every node appearing in `pairs`;
    * `cluster` is the component's minimum id — deterministic under any
    * partitioning. */
  def dupClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIters: Int = 100): DataFrame = {
    val e0 = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    val edges = e0
      .unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var held = checkpointed(labels)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val neigh = edges.join(labels, col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("label")).as("__nmin"))
      val next = labels.join(neigh, col("id") === col("dst"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("__nmin"), col("label")))
            .as("label"))
        .localCheckpoint() // eager: materializes the round once
      // next no longer reads the round it replaces
      held.unpersist(blocking = false)
      held = checkpointed(next)
      changed = next.filter(col("label") =!= col("__old")).count()
      labels = next.select(col("id"), col("label"))
      iter += 1
    }
    edges.unpersist()
    // LOUD beats wrong: partially-propagated labels would split one
    // real component into several clusters and dropNearDups would keep
    // extra docs — refuse rather than return silently-wrong groups
    require(changed == 0,
      s"dupClusters did not converge within $maxIters rounds " +
        s"($changed labels still changing) — component diameter exceeds " +
        "maxIters; raise it or contract the graph first")
    labels.withColumnRenamed("label", "cluster")
  }

  /** The RDD whose blocks hold a `localCheckpoint`ed frame's rows. */
  private def checkpointed(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** Chunk-level duplication profile — the cross-document repeated-
    * passage detector (the corpus-level cousin of MassiveText's
    * "duplicate line fraction" rule, Rae et al. 2021 §A1.1, adapted to
    * fixed token windows because chunk boundaries, unlike lines, exist
    * in every corpus). Each document splits into non-overlapping
    * `size`-token chunks ([[TextOps.chunkTokens]] semantics); a chunk
    * is *duplicated* when the same token sequence appears in ≥2
    * distinct documents; each document reports what fraction of its
    * chunks are duplicated — the "mostly boilerplate / mirrored
    * content" signal quality filters threshold on.
    *
    * Scale shape: chunks shuffle ONCE on a 128-bit md5 chunk key (the
    * full chunk text never travels past the map side), the per-chunk
    * document-frequency relation joins back on the same key — two
    * hash aggregations and one equi-join, all linear in corpus tokens.
    * The md5 key is engine-portable (same idiom as [[exactGroups]]'
    * portable fingerprint), so a SQL oracle reproduces it verbatim.
    *
    * @return one row per document: (idCol, n_chunks, dup_chunks,
    *         dup_frac) with dup_frac rounded to 6 places.
    */
  def chunkDupStats(docs: DataFrame, idCol: String, textCol: String,
      size: Int): DataFrame = {
    val chunks = TextOps.chunkTokens(docs, idCol, textCol, size, overlap = 0)
      .select(col(idCol), md5(col("chunk")).as("__ck"))
    // Document frequency per chunk key: count DISTINCT docs, so a
    // within-document repeat alone does not mark a chunk duplicated.
    val df = chunks.groupBy(col("__ck"))
      .agg(countDistinct(col(idCol)).as("__df"))
    chunks.join(df, Seq("__ck"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("dup_chunks"))
      .withColumn("dup_frac",
        round(col("dup_chunks") / col("n_chunks"), 6))
  }

  /** Semantic dedup in the SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space into k clusters,
    * then search for near-duplicate pairs ONLY within a cluster — the
    * cluster assignment bounds the pair space exactly the way LSH
    * bands do for text, but follows the data's own geometry.
    *
    * Clustering here is assignment to k deterministic seed exemplars
    * (the k vectors with the lexicographically smallest md5(id) — an
    * engine-portable pseudo-random draw, the md5-threshold sampling
    * idiom) by highest cosine; production feeds KMeans centroids
    * ([[graft.ml.KMeansRel.fit]]) through the same `assign →
    * intra-cluster pairs` plan via [[semanticDupPairsWith]] — the
    * seeds relation is the only thing that changes.
    *
    * Scale shape: seeds are k rows (broadcast); assignment is one
    * map-side cross join + per-id argmax (k candidates per row, no
    * shuffle beyond the argmax aggregate); intra-cluster pairing is a
    * self-equi-join on cluster — Σ m_c² work, the SemDeDup bound,
    * tunable by k. No global windows.
    *
    * @return near-dup pairs (cluster, id_a, id_b, cosine ≥ threshold),
    *         id_a < id_b, cosine rounded to 6 places.
    */
  def semanticDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, threshold: Double): DataFrame = {
    require(k >= 1, s"need k >= 1 clusters, got $k")
    val seeds = vectors.select(col(idCol).as("__sid"), col(vecCol).as("__sv"))
      .orderBy(md5(col("__sid").cast("string")), col("__sid"))
      .limit(k)
    // k is known statically here — resolve the CoarseAuto rule without
    // the seed-count job the DataFrame-seeded entry needs
    semanticDupPairsWith(vectors, idCol, vecCol, seeds, threshold,
      nCoarse = graft.sim.Similarity.autoNCoarse(k))
  }

  /** [[semanticDupPairs]] with a caller-supplied cluster relation —
    * the production SemDeDup face: feed
    * [[graft.ml.KMeansRel.fit]] centroids (cluster, centroid) in as
    * `(__sid, __sv)` and the same `assign → intra-cluster pairs` plan
    * runs over real Lloyd cells instead of seed exemplars. */
  def semanticDupPairsWith(vectors: DataFrame, idCol: String,
      vecCol: String, seeds: DataFrame, threshold: Double,
      nCoarse: Int = graft.sim.Similarity.CoarseAuto): DataFrame = {
    import graft.sim.Similarity
    val s = seeds.columns.toSeq match {
      case Seq("__sid", "__sv") => seeds
      case Seq(a, b) => seeds.select(col(a).as("__sid"), col(b).as("__sv"))
      case other => throw new IllegalArgumentException(
        s"seeds must have exactly (id, vector) columns, got $other")
    }
    // Nearest-seed assignment: argmax cosine, ties to the lower seed
    // id. Exact assignment is n·k cosines — once the cell count scales
    // with the corpus (the constant-cell-size contract) the two-level
    // O(n·√k) path ([[graft.sim.Similarity.assignToSeedsCoarse]]) is
    // the one that survives, so CoarseAuto picks it past the seed
    // threshold. The seed relation is broadcast-tiny by contract, so
    // the auto rule's count() is a trivially small job.
    val nc =
      if (nCoarse < 0) Similarity.autoNCoarse(s.count().toInt)
      else nCoarse
    val assigned =
      if (nc > 0)
        Similarity.assignToSeedsCoarse(vectors, idCol, vecCol, s, nc)
      else vectors
        .crossJoin(broadcast(s)) // k candidate rows per vector, map-side
        .groupBy(col(idCol))
        .agg(max_by(col("__sid"),
          struct(Similarity.cosine(col(vecCol), col("__sv")).as("c"),
            (-col("__sid")).as("nt"))).as("cluster"))
    val withC = vectors.join(assigned, Seq(idCol))
    val a = withC.select(col("cluster"), col(idCol).as("id_a"),
      col(vecCol).as("__va"))
    val b = withC.select(col("cluster"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(Similarity.cosine(col("__va"), col("__vb")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("cluster"), col("id_a"), col("id_b"), col("cosine"))
  }

  /** [[dupClusters]] composed with a keep rule: every node whose id is
    * not its component minimum is a drop candidate. */
  def dropNearDups(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drops = dupClusters(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    docs.join(drops, Seq(idCol), "left_anti")
  }

  /** Sliding w-token window occurrences: one row per (doc, start)
    * with the window's text and its 64-bit hash. Positions are
    * 1-based (the oracle's list-slicing convention). Documents
    * shorter than `w` tokens emit nothing. Shares [[TextOps.tokens]]
    * whitespace semantics with every other text operator. */
  private def spanOccurrences(docs: DataFrame, idCol: String,
      textCol: String, w: Int): DataFrame =
    docs.select(col(idCol), TextOps.tokens(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) >= w)
      .select(col(idCol),
        explode(sequence(lit(1), size(col("__ts")) - (w - 1))).as("__s"),
        col("__ts"))
      .select(col(idCol), col("__s"),
        concat_ws(" ", slice(col("__ts"), col("__s"), lit(w))).as("__wtext"))
      .withColumn("__whash", xxhash64(col("__wtext")))

  /** Duplicated w-token spans across the corpus — the candidate side
    * of exact substring deduplication (the "Deduplicating Training
    * Data Makes Language Models Better" shape, Lee et al. 2021,
    * arXiv:2107.06499, re-expressed for Spark: sliding token windows
    * and a hash group stand in for the single-machine suffix array).
    *
    * Two-stage at scale: stage 1 groups the 8-byte window HASH with a
    * map-side partial count, so the corpus-tokens×window-bytes string
    * shuffle never happens — only (hash, count) pairs move. Stage 2
    * re-groups just the occurrences whose hash count exceeds one
    * (duplicated spans are a small fraction of all windows) by the
    * exact window STRING, which both eliminates 64-bit collisions and
    * fixes the keeper: the minimum (doc, start) occurrence. Output:
    * one row per duplicated span occurrence, keeper flagged. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    val occ = spanOccurrences(docs, idCol, textCol, w)
    val candHashes = occ.groupBy(col("__whash"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .select(col("__whash"))
    val cand = occ.join(candHashes, Seq("__whash"), "left_semi")
    // r17 (guide §7.2/§2.4): the per-span count and keeper used to be
    // a groupBy + join-back, which planned the whole cand subtree
    // (tokenize → window explode → semi join) TWICE — once per join
    // side. An unbounded window over the span partition computes both
    // in ONE pass of cand with one Exchange; rows identical.
    val wSpan = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__wtext"))
    cand
      .withColumn("n_occurrences", count(lit(1)).over(wSpan))
      .withColumn("__keeper",
        min(struct(col(idCol), col("__s"))).over(wSpan))
      .filter(col("n_occurrences") > 1)
      .select(col(idCol), col("__s").as("start"),
        col("__wtext").as("span"), col("n_occurrences"),
        (struct(col(idCol), col("__s")) === col("__keeper")).as("is_keeper"))
  }

  /** Exact substring (token-window) deduplication: remove every token
    * covered by a non-keeper occurrence of a duplicated w-token span
    * ([[duplicatedSpans]]) and reassemble the surviving tokens in
    * position order. The first occurrence in (doc, start) order keeps
    * its text; all other occurrences lose theirs — exactly the
    * remove-all-but-one policy of Lee et al. 2021 §3, with w tokens in
    * place of 50 BPE tokens.
    *
    * Scale shape: the expensive relation is the occurrence explosion
    * (corpus-token rows), but it is touched twice by narrow plans —
    * an 8-byte hash groupBy (map-side combined) and a semi join
    * against the small candidate-hash set; the wide string group runs
    * only on duplicated candidates. Coverage → anti join → ordered
    * reassembly are all shuffles keyed on the doc id, the natural
    * partitioning. Output one row per input document:
    * (id, n_tokens, n_removed, clean_text) — clean_text is the
    * surviving tokens joined by single spaces (whitespace-normalized,
    * like every tokens()-derived text). */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    val toks = docs.select(col(idCol), TextOps.tokens(col(textCol)).as("__ts"))
    val removed = duplicatedSpans(docs, idCol, textCol, w)
      .filter(!col("is_keeper"))
    // r17 (guide §2.3: shuffle keys/metadata, not payloads): the
    // reassembly used to posexplode the ENTIRE corpus into one row per
    // token, shuffle all of them by (doc, pos) for the anti join, and
    // shuffle them again into a collect_list + per-doc sort. Covered
    // positions are a small fraction of corpus tokens (only non-keeper
    // occurrences of duplicated spans), so the doc-level shape wins at
    // any scale: aggregate the covered positions to ONE small array
    // per affected doc, join that doc-sized relation back, and drop /
    // reassemble tokens with array expressions — token order is the
    // array's own order, no sort, and the corpus token relation never
    // shuffles at all. Rows identical (SpanDedupSpec brute-force +
    // oracle q181 pin it).
    val cov = removed
      .select(col(idCol),
        explode(sequence(col("start"), col("start") + (w - 1))).as("__pos"))
      .groupBy(col(idCol))
      .agg(collect_set(col("__pos")).as("__cov"))
    val emptyCov = array().cast("array<int>")
    toks.join(cov, Seq(idCol), "left")
      .select(col(idCol), col("__ts"),
        filter(col("__ts"),
          (_, i) => !array_contains(coalesce(col("__cov"), emptyCov), i + 1))
          .as("__keptArr"))
      .select(col(idCol), size(col("__ts")).cast("long").as("n_tokens"),
        (size(col("__ts")).cast("long") -
          coalesce(when(col("__keptArr").isNotNull,
            size(col("__keptArr")).cast("long")), lit(0L)))
          .cast("long").as("n_removed"),
        coalesce(array_join(col("__keptArr"), " "), lit("")).as("clean_text"))
  }

  /** LSH band-plan tuner: score every (bands, rowsPerBand) split of a
    * `sigLen`-hash MinHash signature against a target Jaccard
    * `threshold`. A pair at similarity s collides in at least one band
    * with probability S(s) = 1 − (1 − s^r)^b (the standard LSH
    * S-curve, Leskovec/Rajaraman/Ullman ch. 3); the ideal filter is a
    * step at the threshold, so each plan is charged its two error
    * areas on a `gridCells`-point Riemann grid:
    * fp_area = Σ_{s<t} S(s)/g (sub-threshold pairs that still become
    * candidates — wasted verification) and fn_area = Σ_{s≥t}
    * (1−S(s))/g (true dups the blocking misses — recall loss). `cost`
    * ranks plans by their sum; pick the cheapest, or the cheapest with
    * fn_area under a recall budget. At 100 TB this choice IS the dedup
    * bill: bands multiply the exploded shuffle volume and fp_area
    * multiplies the exact-verify work, so constants belong to this
    * curve, not folklore. The relation is divisors(sigLen) ×
    * (gridCells−1) rows — constant-sized by construction (the
    * broadcast cross is the operator; nothing scales with data).
    * Cross-engine determinism: per-point probabilities round to the
    * 9-decimal grid before the DECIMAL(38,12) area sums, areas round
    * to 6. */
  def tuneBands(spark: SparkSession, sigLen: Int, threshold: Double,
      gridCells: Int = 100): DataFrame = {
    require(sigLen >= 1, s"sigLen must be >= 1, got $sigLen")
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0, 1), got $threshold")
    require(gridCells >= 2, s"gridCells must be >= 2, got $gridCells")
    val dec = "decimal(38,12)"
    val plans = spark.createDataFrame(
      (1 to sigLen).filter(sigLen % _ == 0)
        .map(b => (b, sigLen / b))).toDF("b", "r")
    val grid = spark.range(1, gridCells.toLong)
      .select((col("id").cast("double") / gridCells).as("s"))
    plans.crossJoin(broadcast(grid))
      .withColumn("prob",
        round(lit(1.0) - pow(lit(1.0) - pow(col("s"), col("r")), col("b")), 9))
      .groupBy(col("b"), col("r"))
      .agg(
        round(
          sum(when(col("s") < threshold, col("prob")).otherwise(lit(0.0))
            .cast(dec)).cast("double") / gridCells, 6).as("fp_area"),
        round(
          sum(when(col("s") >= threshold, lit(1.0) - col("prob"))
            .otherwise(lit(0.0)).cast(dec)).cast("double") / gridCells, 6)
          .as("fn_area"))
      .withColumn("cost", round(col("fp_area") + col("fn_area"), 6))
  }
}
