package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-scoped maintenance of a materialized DENORMALIZED view
  * under dimension updates — the backfill problem every star schema
  * hits: an SCD1 attribute overwrite (a customer changes segment, a
  * product is re-categorized) invalidates the denormalized rows of
  * JUST the affected dim members, but a naive refresh rewrites the
  * whole view. Here the view's rows are grouped by a BUCKET of the dim
  * key, so a dim delta maps to a bounded set of buckets: recompute the
  * join for those buckets only and publish them as a new generation.
  *
  * ONE PUBLISH PROTOCOL. A view is a set of immutable per-bucket
  * generation directories under [[SnapDir]] plus numbered manifests
  * mapping each bucket to its current generation; the highest manifest
  * is the committed snapshot. [[materializeSnapshot]] builds it,
  * [[refreshSnapshot]] writes the affected buckets as new generation
  * dirs and commits a new manifest, [[readSnapshot]] reads the
  * committed one, [[readSnapshotAsOf]] an older one, and
  * [[vacuumSnapshot]] deletes what no retained manifest references
  * past a horizon. A refresh never renames, rewrites or deletes a file
  * a published manifest references, so a concurrent reader sees the
  * old snapshot or the new one and never a missing file — the
  * reader isolation the reference's serving store gets from
  * PostgreSQL's MVCC (`docker-compose.yaml:3-18`). Untouched buckets
  * keep their generation dirs and files (ViewRefreshSpec asserts it).
  *
  * What is saved, honestly: the WRITE. c randomly-hashed changed keys
  * touch B·(1−(1−1/B)^c) of B buckets — ≈c buckets while c ≪ B, all
  * of them once c approaches B·ln B. The win case is the common small
  * delivery (correct one customer, a handful of late fixes): write
  * amplification drops from a full view rewrite to ~c/B of it, and it
  * degrades gracefully to a plain rewrite for bulk updates. The
  * refresh still SCANS one pass of the fact to recompute the affected
  * rows (prunable further only when the fact layout shares the bucket
  * key — declare it via `sourceLayout`) — at 100 TB the saving is
  * write bandwidth on (B−c)/B of the view's parquet, which is the
  * expensive half of a rewrite.
  *
  * LAYOUT TRUST MODEL. A view frame may CARRY a [[BucketCol]] column
  * (from a [[materializeSource]] layout); trusting it blindly is how
  * refreshes corrupt views — a source bucketed on a different key or
  * a different bucket count silently replaces the wrong buckets or
  * drops rows. Three defenses, all loud:
  *  - [[materializeSnapshot]] commits the bucket count as a manifest
  *    header; [[refreshSnapshot]] requires it to match its `nBuckets`
  *    argument.
  *  - [[refreshSnapshot]] scopes the recompute by the COMPUTED bucket
  *    expression by default — the true affected-row set regardless of
  *    what the carried column claims — and REQUIRES carried ==
  *    computed over every scoped row (a carried column from a finer,
  *    coarser or wrong-key layout is caught here, including rows a
  *    carried-scoped filter would have silently excluded).
  *  - the carried-scoped fast path (partition-pruned source scan)
  *    must be EARNED: pass `sourceLayout` = the co-bucketed source's
  *    path, and the refresh verifies that layout's sidecar carries
  *    the same bucket count before trusting its partition column —
  *    and then STILL probes the complement partitions (column-pruned
  *    to the key) for rows the carried scope would wrongly exclude,
  *    because the sidecar attests the count, not the key.
  *
  * The bucket count trades refresh granularity against small-file
  * pressure: more buckets → less over-rebuild per changed key but
  * more directories. Keys hash via `pmod(hash(key), n)` so skewed or
  * negative key domains spread evenly.
  */
object ViewRefresh {

  val BucketCol = "pbucket"

  /** Layout sidecar file name of a [[materializeSource]] layout — lives
    * beside its partition dirs; the leading underscore keeps it
    * invisible to parquet readers. */
  val LayoutFile = "_graft_layout.json"

  /** The partition-bucket expression — MUST be identical at
    * materialize and refresh time, or a refresh writes rows into a
    * different bucket than the stale copy it means to replace. */
  def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(hash(key), lit(nBuckets))

  /** Cluster rows by the bucket column before a `partitionBy(bucket)`
    * write (guide §6: REBALANCE before the write). Without it a write
    * from T upstream tasks fans out to T×B small files — every task
    * opens a writer per bucket it sees — and every later read of the
    * view pays the listing + footer cost (measured r17: the q215
    * materialize wrote 32×16 ≈ 500 ~5 KB files and the read-back was
    * the query's single most expensive job). The AQE rebalance keeps
    * output files near the advisory partition size at any scale:
    * small buckets coalesce into one task, a skewed bucket splits into
    * several (several right-sized files in one partition dir), so the
    * shape is correct both for the bench corpus and for a 100 TB view.
    * Row content is untouched — layout only. */
  private def clusterByBucket(df: DataFrame, bucket: String): DataFrame =
    df.hint("rebalance", col(bucket))

  /** Stamp the layout contract beside the data (metadata-only; the
    * `sourceLayout` handshake reads it back). */
  private def writeLayout(spark: SparkSession, path: String,
      nBuckets: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, LayoutFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    out.write(s"""{"nBuckets":$nBuckets}""".getBytes("UTF-8"))
    out.close()
  }

  /** The bucket count a layout was written with, when stamped. */
  def readLayout(spark: SparkSession, path: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(path, LayoutFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else """"nBuckets"\s*:\s*(\d+)""".r
      .findFirstMatchIn(readFully(fs, p)).map(_.group(1).toInt)
  }

  /** Per-row write-path guard: the written bucket value, failing the
    * job if a CARRIED bucket disagrees with the computed one — the
    * initial build's defense against a view that happens to carry a
    * mismatched (or merely same-named) [[BucketCol]], caught in the
    * same pass as the write instead of laying the table out wrong. */
  private def guardedBucket(carried: Column, key: Column,
      nBuckets: Int): Column = {
    val computed = bucketOf(key, nBuckets)
    when(carried === computed, carried).otherwise(raise_error(concat(
      lit(s"carried $BucketCol disagrees with bucketOf(key, $nBuckets): " +
        "carried="), carried.cast("string"),
      lit(" computed="), computed.cast("string"),
      lit(" — the source layout was bucketed on a different key or " +
        "bucket count"))))
  }

  /** Co-bucketed SOURCE layout: write a fact (or any view input)
    * partitioned by the bucket of ITS copy of the dim key — the same
    * `pmod(hash(key), n)` as the view layout. A view built from this
    * layout carries `pbucket` from the scan through the join, so a
    * [[refreshSnapshot]] that declares `sourceLayout` = this path
    * scopes on the carried column and the bucket filter lands on the
    * source scan as a PARTITION filter: the refresh then READS ~c/B of
    * the fact instead of scanning it all and discarding (B−c)/B
    * post-join — the scan-side half of the write-amplification win
    * documented above, and the one that dominates at 100 TB. The
    * stamped sidecar is what lets the refresh TRUST the carried
    * column. */
  def materializeSource(fact: DataFrame, factKey: Column, nBuckets: Int,
      path: String): Unit = {
    clusterByBucket(fact.withColumn(BucketCol, bucketOf(factKey, nBuckets)),
        BucketCol)
      .write.partitionBy(BucketCol).mode("overwrite").parquet(path)
    writeLayout(fact.sparkSession, path, nBuckets)
  }

  /** The partitions a dim delta invalidates: distinct buckets of the
    * changed keys. Bounded by nBuckets (a driver-side list the size of
    * the partition count, never the key count). */
  def affectedBuckets(changedKeys: DataFrame, key: Column,
      nBuckets: Int): Seq[Int] =
    changedKeys.select(bucketOf(key, nBuckets).as(BucketCol)).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq

  /** The affected-rows frame, persisted, with the module doc's LAYOUT
    * TRUST MODEL applied: computed-bucket scoping by default,
    * carried-column (partition-pruned) scoping only under a verified
    * `sourceLayout` sidecar, and the carried-vs-computed disagreement
    * check over every scoped row. Unpersisted here on verification
    * failure; callers unpersist on their paths. */
  private def scopedVerified(view: DataFrame, key: Column, nBuckets: Int,
      buckets: Seq[Int], sourceLayout: Option[String]): DataFrame = {
    val spark = view.sparkSession
    val carriedPresent = view.columns.contains(BucketCol)
    val pruned = carriedPresent && sourceLayout.exists { src =>
      val stamped = readLayout(spark, src)
      require(stamped.contains(nBuckets),
        s"sourceLayout $src carries no matching layout sidecar " +
          s"(found ${stamped.orNull}, need $nBuckets) — cannot trust its " +
          s"carried $BucketCol for partition-pruned scoping")
      true
    }
    val computed = bucketOf(key, nBuckets)
    // pinned across the verify and the write: recomputing the view
    // for each would multiply the refresh's join work. The pruned
    // filter ALSO admits NULL carried buckets (an outer-join view can
    // carry NULL on unmatched rows; both disjuncts are partition
    // predicates, so pruning survives) — the verify below then rejects
    // them loudly instead of the isin silently dropping them.
    val scoped = (
      if (pruned) view.filter(col(BucketCol).isin(buckets: _*) ||
        col(BucketCol).isNull)
      else if (carriedPresent) view.filter(computed.isin(buckets: _*))
      else view.withColumn(BucketCol, computed)
        .filter(col(BucketCol).isin(buckets: _*))
    ).persist()
    try {
      if (carriedPresent) {
        // null-SAFE comparison: a NULL carried bucket is a
        // disagreement (=!= would evaluate to NULL and slip through
        // the count, then land in the Hive default partition no
        // bucket-scoped refresh ever targets)
        val bad = scoped.filter(!(col(BucketCol) <=> computed)).count()
        require(bad == 0,
          s"carried $BucketCol column disagrees with bucketOf(key, " +
            s"$nBuckets) on $bad scoped rows (NULL carried buckets " +
            "count as disagreement) — the source layout was bucketed " +
            "on a different key or bucket count, or the view join " +
            "produced unmatched rows")
        // a PRUNED scope's verify above covers only the rows the
        // carried filter ADMITTED. The sidecar handshake pins the
        // bucket COUNT but not the KEY: a wrong-key layout with the
        // same count can park affected rows in partitions OUTSIDE the
        // carried scope — those rows never enter `scoped`, the check
        // above is vacuous for them, and the rebuilt buckets would
        // silently OMIT them (row loss), or, when the whole scope came
        // back empty, the new manifest would DROP every affected
        // bucket. Probe the complement on EVERY pruned refresh:
        // any row whose computed bucket is affected but whose carried
        // bucket is not proves the carried column does not track this
        // key. Cost: a scan of the complement partitions, column-
        // pruned to the key + partition column — the WRITE-side
        // amplification win of the fast path survives intact; the
        // read-side win pays for this verification (the price of an
        // unverifiable key claim; a layout whose KEY identity could be
        // attested would not need it).
        if (pruned) {
          val missed = view.filter(computed.isin(buckets: _*) &&
              !(col(BucketCol).isin(buckets: _*) || col(BucketCol).isNull))
            .limit(1).count()
          require(missed == 0,
            s"carried-scoped refresh would DROP rows: computed " +
              s"bucketOf(key, $nBuckets) places rows in affected " +
              s"buckets ${buckets.mkString(",")} that the carried " +
              s"$BucketCol column excludes — the source layout's " +
              "carried column does not match this key")
        }
      }
      scoped
    } catch {
      case t: Throwable => scoped.unpersist(); throw t
    }
  }

  // =====================================================================
  // Generation publish: manifests, reads, time travel, vacuum
  // =====================================================================

  /** Hidden root holding a snapshot view's generation dirs and
    * manifests. The underscore prefix makes a DIRECT
    * `spark.read.parquet(path)` of a snapshot view fail loudly
    * ("unable to infer schema" — FileIndex skips `_` paths) instead of
    * silently unioning generations; snapshot views are read via
    * [[readSnapshot]]. */
  val SnapDir = "_snap"

  // generation dirs carry a per-publisher run id (see
  // publishGeneration's race note)
  private val genDirRe = s"""$BucketCol=(\\d+)-g(\\d+)-[0-9a-f]{8}""".r
  private val manifestRe = """v(\d{1,18})""".r

  /** Initial build (or full rebuild): the view rows as per-bucket
    * IMMUTABLE generation directories plus a numbered manifest mapping
    * each bucket to its generation; the HIGHEST-numbered manifest is
    * the committed snapshot (a manifest appears atomically via
    * temp-write + rename). A carried [[BucketCol]] is verified
    * row-for-row IN the write pass (no second scan of the view
    * lineage); absent, the bucket is computed. A [[refreshSnapshot]]
    * never renames, rewrites or deletes anything a published manifest
    * references, so a concurrent [[readSnapshot]] can never hit a
    * vanished file: the list-then-open race that makes any in-place
    * layout throw occasionally under concurrency (Spark plans against
    * listed paths and opens them later) is gone by construction. Old
    * generations accumulate until [[vacuumSnapshot]] removes the
    * unreferenced ones past a horizon — exactly the manifest-plus-vacuum
    * contract of the table formats built for this problem
    * (Iceberg/Delta), reduced to the one-table case.
    *
    * ATOMIC METADATA: the bucket count and the schema ride IN the
    * manifest as header lines, so the layout contract commits in the
    * SAME rename as the data mapping — a rebuild that dies anywhere
    * before the commit changes nothing a later refresh could trust
    * wrongly (the r15 review's stamp-before-commit hazard: a root
    * sidecar asserting a bucket count the committed snapshot doesn't
    * have). Both headers are required: a manifest missing either is
    * corrupt.
    *
    * Concurrent publishers are serialized by `coordinator` — the
    * default [[PublishCoordinator.SameJvm]] covers one JVM; pass a
    * [[FileLeaseCoordinator]] (or a lock-service impl) when several
    * PROCESSES may publish on a replace-semantics filesystem (see
    * [[publishGeneration]]'s race-layer note). */
  def materializeSnapshot(view: DataFrame, key: Column, nBuckets: Int,
      path: String,
      coordinator: PublishCoordinator = PublishCoordinator.SameJvm): Unit = {
    val spark = view.sparkSession
    val base = new org.apache.hadoop.fs.Path(path)
    val snap = new org.apache.hadoop.fs.Path(base, SnapDir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(snap)
    val bucketed =
      if (view.columns.contains(BucketCol))
        view.withColumn(BucketCol, guardedBucket(col(BucketCol), key, nBuckets))
      else view.withColumn(BucketCol, bucketOf(key, nBuckets))
    // a REBUILD of an existing snapshot view must publish ABOVE the
    // current generation — publishing gen 1 beside a live v5 manifest
    // would be silently invisible to readers (max wins) and collide
    // with any surviving g1 dirs. A full materialize replaces EVERY
    // prior bucket. Generation choice + publish ride the publish
    // lock (see [[publishGeneration]]'s race note).
    coordinator.withLock(fs, base) {
      val (gen, prior) = currentManifest(fs, snap)
        .map { case (g, m) => (g + 1L, m.dirs) }
        .getOrElse((1L, Map.empty[Int, String]))
      publishGeneration(spark, fs, snap, bucketed, gen,
        replacedBuckets = prior.keys.toSeq, prior = prior,
        nBuckets = nBuckets, schemaJson = bucketed.schema.json)
    }
  }

  /** Partition-scoped refresh of a [[materializeSnapshot]] view:
    * recompute `view` (already joined against the UPDATED dimension)
    * restricted to the affected `buckets`, and publish those buckets as
    * NEW generation dirs behind a new manifest — readers of the
    * previous snapshot keep every file they can list. An affected
    * bucket whose recompute came back empty (its only member was
    * deleted) simply leaves the new manifest (deletion correctness
    * without touching disk).
    *
    * SCOPING follows the module doc's LAYOUT TRUST MODEL: by default
    * the affected rows are selected by the COMPUTED bucket expression;
    * when `sourceLayout` names a [[materializeSource]] path whose
    * sidecar matches `nBuckets` AND the frame carries [[BucketCol]],
    * scoping uses the carried column instead, which PRUNES the source
    * scan to the affected partitions. Either way every scoped row must
    * satisfy carried == computed when a carried column is present.
    *
    * CONCURRENT WRITERS within one JVM are SERIALIZED by a per-path
    * publish lock spanning generation choice through manifest commit
    * (the [[graft.streaming.DocStream]] sink-lock idiom) — concurrent
    * local refreshes simply chain as successive generations. Across
    * JVMs the exists-check + read-back layers make a same-generation
    * loser LOUD on no-overwrite-rename filesystems (HDFS); on a
    * filesystem whose rename REPLACES an existing file (raw POSIX),
    * cross-process mutual exclusion needs an external coordinator —
    * the same caveat every manifest-committed table format carries on
    * such stores (Delta's S3 LogStore). RETRIES (foreachBatch
    * redelivery) are content-idempotent: the recompute of the
    * affected buckets is deterministic, so a replayed refresh
    * publishes a new generation with identical rows — readers see the
    * same data either way, no ledger needed on this path. */
  def refreshSnapshot(view: DataFrame, key: Column, nBuckets: Int,
      buckets: Seq[Int], path: String,
      sourceLayout: Option[String] = None,
      coordinator: PublishCoordinator = PublishCoordinator.SameJvm): Unit = {
    val spark = view.sparkSession
    val base = new org.apache.hadoop.fs.Path(path)
    val snap = new org.apache.hadoop.fs.Path(base, SnapDir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    requireSnapshotLayout(fs, snap, path, nBuckets): Unit
    val scoped = scopedVerified(view, key, nBuckets, buckets, sourceLayout)
    // generation choice + publish under the lock: the CURRENT
    // manifest is re-read inside (handshake included — a serialized
    // rebuild could have changed the bucket count since the pre-check
    // above, which exists only to fail fast before the scoped scan),
    // so serialized concurrent refreshes chain (each sees its
    // predecessor's commit) instead of both publishing against the
    // same stale prior
    try coordinator.withLock(fs, base) {
      val (gen, cur) = requireSnapshotLayout(fs, snap, path, nBuckets)
      publishGeneration(spark, fs, snap, scoped, gen + 1L,
        replacedBuckets = buckets, prior = cur.dirs,
        nBuckets = nBuckets, schemaJson = cur.schemaJson)
    }
    finally scoped.unpersist(): Unit
  }

  /** The layout handshake: the committed manifest's `#nBuckets`
    * header is the AUTHORITY (it rode the same atomic rename as the
    * data mapping, so it can never disagree with what the snapshot
    * actually holds). Returns the current (gen, manifest). */
  private def requireSnapshotLayout(fs: org.apache.hadoop.fs.FileSystem,
      snap: org.apache.hadoop.fs.Path, path: String,
      nBuckets: Int): (Long, Manifest) = {
    val (gen, m) = currentManifest(fs, snap).getOrElse(
      throw new IllegalArgumentException(
        s"$path is not a snapshot view (no $SnapDir manifest) — " +
          "materializeSnapshot first"))
    require(m.nBuckets == nBuckets,
      s"snapshot view at $path was materialized with ${m.nBuckets} " +
        s"buckets (manifest header), refresh called with $nBuckets " +
        "— refusing to publish mismatched partitions")
    (gen, m)
  }

  /** Write `rows` as generation-`gen` bucket dirs and publish the new
    * manifest: prior mappings minus `replacedBuckets`, plus every
    * bucket the write produced. The bucket count and schema commit as
    * `#`-header lines IN the manifest body — the same atomic rename
    * as the mapping, so layout metadata can never be stamped ahead of
    * (or behind) the data it describes. */
  private def publishGeneration(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, snap: org.apache.hadoop.fs.Path,
      rows: DataFrame, gen: Long, replacedBuckets: Seq[Int],
      prior: Map[Int, String], nBuckets: Int, schemaJson: String): Unit = {
    val staging = new org.apache.hadoop.fs.Path(snap,
      ".stage-" + java.util.UUID.randomUUID().toString)
    try {
      // duplicate the bucket into the partition column so the DATA
      // files keep it — generation dir names are manifest-internal,
      // not partition-discovery paths
      clusterByBucket(rows.withColumn("__pb", col(BucketCol)), "__pb")
        .write.partitionBy("__pb").mode("overwrite").parquet(staging.toString)
      val writtenBuckets = fs.listStatus(staging).toSeq
        .map(_.getPath.getName).collect {
          case n if n.startsWith("__pb=") => n.stripPrefix("__pb=").toInt
        }
      // generation dir names carry a per-publisher run id: with
      // DETERMINISTIC names, two same-generation racers would fight
      // over the data dirs too, and data-dir ownership (first rename
      // wins; a second dir rename onto an existing dir NESTS on
      // LocalFileSystem) could disagree with manifest ownership — the
      // committed manifest then serves the FAILED writer's rows while
      // the "successful" writer's data is invisible debris. Unique
      // names make the manifest commit the ONLY race.
      val runId = java.util.UUID.randomUUID().toString.take(8)
      val moved = writtenBuckets.map { b =>
        val dir = s"$BucketCol=$b-g$gen-$runId"
        val dst = new org.apache.hadoop.fs.Path(snap, dir)
        if (!fs.rename(new org.apache.hadoop.fs.Path(staging, s"__pb=$b"), dst))
          throw new java.io.IOException(s"failed to stage generation dir $dst")
        b -> dir
      }.toMap
      val next = (prior -- replacedBuckets) ++ moved
      // schema json is single-line by construction (compact
      // rendering); assert rather than corrupt the line-oriented body
      require(!schemaJson.contains("\n"), "schema json must be one line")
      val body = (Seq(s"$HeaderBuckets $nBuckets",
        s"$HeaderSchema $schemaJson") ++
        next.toSeq.sorted.map { case (b, d) => s"$b $d" }).mkString("\n")
      val tmp = new org.apache.hadoop.fs.Path(snap,
        ".manifest-tmp-" + java.util.UUID.randomUUID().toString)
      val out = fs.create(tmp, true)
      out.write(body.getBytes("UTF-8")); out.close()
      val mf = new org.apache.hadoop.fs.Path(snap, f"v$gen%018d")
      // concurrent-writer detection (same-JVM writers are already
      // serialized by withPublishLock; these layers cover CROSS-
      // PROCESS writers, who must be LOUD, not last-writer-wins):
      // (1) an already-committed generation is refused before the
      // rename; (2) on a no-overwrite-rename filesystem (HDFS) a
      // racer inside the exists window fails the rename; (3) raw
      // POSIX rename REPLACES an existing file and returns true
      // (RawLocalFileSystem delegates to File.renameTo = rename(2) —
      // do NOT trust the rename return value for this), so the
      // manifest is read back and must carry OUR body — the run id in
      // every dir name makes two racers' bodies necessarily
      // different. The read-back is the ONLY layer that fires for a
      // rename-replaced loser, and it is itself check-after-act: a
      // replace landing between a winner's rename and its read-back
      // can still produce two silent claimants on a replace-semantics
      // filesystem — cross-process mutual exclusion there needs an
      // external coordinator (the standard manifest-format caveat;
      // see refreshSnapshot's scaladoc).
      if (fs.exists(mf))
        throw new java.io.IOException(
          s"concurrent publish detected at $mf — generation $gen is " +
            "already committed")
      if (!fs.rename(tmp, mf))
        throw new java.io.IOException(s"failed to publish manifest $mf " +
          "(an I/O failure, or a concurrent publisher on a " +
          "no-overwrite filesystem)")
      if (readFully(fs, mf) != body)
        throw new java.io.IOException(
          s"concurrent publish detected at $mf — this refresh lost the " +
            s"race for generation $gen (its data dirs are unreferenced " +
            "and will be vacuumed)")
    } finally fs.delete(staging, true): Unit
  }

  private def readFully(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
  }

  /** Manifest header tags: layout metadata committed in the same
    * atomic rename as the bucket mapping. `#`-prefixed lines are
    * headers; both are required, and both parsers skip unknown ones,
    * so the format extends without breaking readers. */
  private val HeaderBuckets = "#nBuckets"
  private val HeaderSchema = "#schema"

  /** One committed manifest: header metadata + bucket → generation
    * dir. */
  private final case class Manifest(nBuckets: Int, schemaJson: String,
      dirs: Map[Int, String])

  /** Parse one manifest file. Malformed lines throw a NAMED error
    * (the read path must be loud; the GC path uses
    * [[manifestDirsLenient]] instead — a corrupt manifest must never
    * wedge vacuum, see [[vacuumSnapshot]]). */
  private def readManifestFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Manifest =
    parseManifest(readFully(fs, p), p.getName)

  /** The READ path's parse: any malformed mapping line — wrong field
    * count, non-digit or overlong bucket (digits-only guard, then
    * `toIntOption` for overflow; signed forms are corrupt too) —
    * throws the named corrupt-manifest error, never a raw
    * NumberFormatException. A missing or malformed `#nBuckets` header
    * is equally corrupt (a refresh trusting a garbled count would
    * publish misaligned partitions), and so is a missing `#schema`. */
  private def parseManifest(body: String, name: String): Manifest = {
    val lines = body.split("\n").iterator.map(_.trim)
      .filter(_.nonEmpty).toSeq
    def header(tag: String): String =
      lines.find(_.startsWith(tag + " ")).map(_.stripPrefix(tag + " "))
        .getOrElse(throw new IllegalArgumentException(
          s"corrupt snapshot manifest $name: missing header $tag"))
    val count = header(HeaderBuckets)
    val nBuckets = count.trim.toIntOption.filter(_ > 0)
      .getOrElse(throw new IllegalArgumentException(
        s"corrupt snapshot manifest $name: bad header " +
          s"'$HeaderBuckets $count'"))
    val schema = header(HeaderSchema)
    val dirs = lines.filterNot(_.startsWith("#")).map { line =>
      val parts = line.split(" ", 2)
      val bucket =
        if (parts.length == 2 && parts(0).nonEmpty &&
          parts(0).forall(_.isDigit)) parts(0).toIntOption
        else None
      bucket match {
        case Some(b) => b -> parts(1)
        case None => throw new IllegalArgumentException(
          s"corrupt snapshot manifest $name: bad line '$line'")
      }
    }.toMap
    Manifest(nBuckets, schema, dirs)
  }

  /** The GC liveness parse: EVERY two-field line — headers included —
    * contributes its second field, independent of whether its first
    * field parses or collides: corruption must neither wedge vacuum
    * nor condemn a dir an intact field still references (a deduping
    * bucket-keyed map would let a corrupt duplicate-bucket line EVICT
    * the real dir from the liveness union; a mapping line whose
    * bucket field got garbled into a `#` must still keep its dir).
    * Header values ("8", the schema json) are inert in the live set —
    * deletion only ever targets names matching the generation-dir
    * pattern. Never throws on any input. */
  private def manifestDirsLenient(body: String): Seq[String] =
    body.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      .flatMap { line =>
        val parts = line.split(" ", 2)
        if (parts.length == 2 && parts(1).nonEmpty) Some(parts(1)) else None
      }.toSeq

  /** One listing of the snapshot dir's manifest files: gen → path. */
  private def listManifests(fs: org.apache.hadoop.fs.FileSystem,
      snap: org.apache.hadoop.fs.Path): Seq[(Long, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(snap)) Seq.empty
    else fs.listStatus(snap).toSeq.filter(_.isFile)
      .flatMap(st => st.getPath.getName match {
        case manifestRe(g) => Some(g.toLong -> st.getPath)
        case _ => None
      })

  /** The committed snapshot: (generation, bucket → generation dir).
    * `asOf` pins a specific PUBLISHED generation (time travel) —
    * readable for as long as [[vacuumSnapshot]]'s horizon retains it;
    * None reads the latest. */
  private def currentManifest(fs: org.apache.hadoop.fs.FileSystem,
      snap: org.apache.hadoop.fs.Path,
      asOf: Option[Long] = None): Option[(Long, Manifest)] = {
    val manifests = listManifests(fs, snap)
    if (manifests.isEmpty) return None
    val picked = asOf match {
      case None => Some(manifests.maxBy(_._1))
      case Some(g) => manifests.find(_._1 == g)
    }
    picked.map { case (gen, p) => gen -> readManifestFile(fs, p) }
  }

  /** The published generations still on disk, ascending — the time-
    * travel index ([[readSnapshotAsOf]]); [[vacuumSnapshot]] trims it
    * from the left. Metadata-only. */
  def snapshotGenerations(spark: SparkSession, path: String): Seq[Long] = {
    val snap = new org.apache.hadoop.fs.Path(path, SnapDir)
    val fs = snap.getFileSystem(spark.sessionState.newHadoopConf())
    listManifests(fs, snap).map(_._1).sorted
  }

  /** TIME TRAVEL: read a specific published generation — free, given
    * the manifest layout (each manifest is an immutable complete
    * bucket map; its generation dirs survive until vacuum's horizon
    * passes them). A vacuumed generation fails loudly with the
    * available range, never serves a partial snapshot. */
  def readSnapshotAsOf(spark: SparkSession, path: String,
      gen: Long): DataFrame = {
    val snap = new org.apache.hadoop.fs.Path(path, SnapDir)
    val fs = snap.getFileSystem(spark.sessionState.newHadoopConf())
    currentManifest(fs, snap, Some(gen)) match {
      case Some((_, m)) => readManifestDirs(spark, path, m)
      case None =>
        val avail = snapshotGenerations(spark, path)
        throw new IllegalArgumentException(
          s"generation $gen is not published at $path (available: " +
            s"${avail.mkString(",")}) — vacuumed or never written")
    }
  }

  /** Read the committed snapshot — the ONLY correct way to read a
    * snapshot view (a direct parquet read of `path` fails loudly by
    * design). Plans a plain multi-directory parquet scan; the bucket
    * rides in the data, so downstream bucket filters still prune at
    * the row-group level via parquet stats. */
  def readSnapshot(spark: SparkSession, path: String): DataFrame = {
    val snap = new org.apache.hadoop.fs.Path(path, SnapDir)
    val fs = snap.getFileSystem(spark.sessionState.newHadoopConf())
    val (_, m) = currentManifest(fs, snap).getOrElse(
      throw new IllegalArgumentException(s"$path is not a snapshot view"))
    readManifestDirs(spark, path, m)
  }

  /** The manifest's generation dirs, read with the schema its header
    * committed: no footer inference, so building the frame starts no
    * Spark job. Every member deleted is a typed zero-row table. */
  private def readManifestDirs(spark: SparkSession, path: String,
      m: Manifest): DataFrame = {
    val schema = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    if (m.dirs.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema)
      .parquet(m.dirs.values.map(d => s"$path/$SnapDir/$d").toSeq: _*)
  }

  /** Garbage-collect old manifests and the generation dirs nothing
    * SURVIVING references, once older than `horizonMs` (the horizon
    * must exceed any plausible reader duration — a reader that listed
    * an old snapshot keeps its files until it finishes). Manifests are
    * decided FIRST, then liveness is the union over every surviving
    * manifest — never just the latest: a retained time-travel manifest
    * ([[readSnapshotAsOf]]) must keep every dir it references, even
    * ones first published generations ago (an unchanged bucket's dir
    * is shared across manifests and can be arbitrarily old). Returns
    * how many entries were deleted. */
  def vacuumSnapshot(spark: SparkSession, path: String,
      horizonMs: Long): Int =
    vacuumSnapshotImpl(spark, path, horizonMs, readFully)

  /** [[vacuumSnapshot]] with the manifest READ injectable — the
    * fault-injection seam for the abort-on-read-failure contract
    * (there is no portable way to make a real local read fail once
    * from a spec). Production callers use the public face. */
  private[etl] def vacuumSnapshotImpl(spark: SparkSession, path: String,
      horizonMs: Long,
      readManifest: (org.apache.hadoop.fs.FileSystem,
        org.apache.hadoop.fs.Path) => String): Int = {
    val snap = new org.apache.hadoop.fs.Path(path, SnapDir)
    val fs = snap.getFileSystem(spark.sessionState.newHadoopConf())
    // the latest GENERATION NUMBER comes from the file NAME — parsing
    // the latest manifest's body here would wedge every vacuum on a
    // corrupt latest manifest, the exact failure GC must survive
    val names = listManifests(fs, snap)
    if (names.isEmpty) return 0
    val gen = names.map(_._1).max
    val cutoff = System.currentTimeMillis() - horizonMs
    val entries = fs.listStatus(snap).toSeq
    val staleManifests = entries.filter { st =>
      st.getPath.getName match {
        case manifestRe(g) => st.isFile && g.toLong < gen &&
          st.getModificationTime < cutoff
        case _ => false
      }
    }.map(_.getPath.getName).toSet
    // liveness = union over every SURVIVING manifest, read directly
    // from the already-listed paths (one listing total, not one per
    // manifest), parsed LENIENTLY: a corrupt LINE neither aborts the
    // GC (a wedged vacuum means unbounded storage growth everywhere
    // else) nor condemns the generations the manifest's WELL-FORMED
    // lines still reference (deleting those would turn a repairable
    // one-bad-line corruption into permanent data loss). Leniency
    // stops at the FILE boundary: a surviving manifest that fails to
    // READ aborts the whole vacuum before anything is deleted —
    // swallowing the failure would empty that manifest's contribution
    // to the live set and condemn every generation dir only it
    // references (on a quiesced table, ALL data past the horizon);
    // the r15 review's confirmed data-loss path. A transient I/O blip
    // costs one skipped vacuum pass, retried on the next schedule —
    // the asymmetry (bounded storage delay vs permanent loss) decides.
    val live: Set[String] = entries.flatMap { st =>
      st.getPath.getName match {
        case manifestRe(_) if st.isFile &&
            !staleManifests(st.getPath.getName) =>
          try manifestDirsLenient(readManifest(fs, st.getPath))
          catch {
            case scala.util.control.NonFatal(e) =>
              throw new java.io.IOException(
                s"vacuum of $path aborted: surviving manifest " +
                  s"${st.getPath.getName} failed to READ — nothing was " +
                  "deleted this pass (an unreadable manifest must not " +
                  "empty the liveness union and condemn the " +
                  "generations it references)", e)
          }
        case _ => Seq.empty
      }
    }.toSet
    var removed = 0
    entries.foreach { st =>
      val n = st.getPath.getName
      val stale = n match {
        case _ if st.getModificationTime >= cutoff => false
        case genDirRe(_, _) => st.isDirectory && !live(n)
        case manifestRe(_) => staleManifests(n)
        case _ => n.startsWith(".") // crashed staging/manifest temps
      }
      if (stale) { fs.delete(st.getPath, true); removed += 1 }
    }
    removed
  }
}
