package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe: times registered queries on a k× replicated copy of a
  * fixture dir, and the streaming sinks over k micro-batches. The point
  * is the SHAPE of the growth, not absolute numbers: a query whose cost
  * is linear-ish in rows at 10× has no hidden quadratic/driver
  * bottleneck waiting at 1000×.
  *
  * Usage: `sbt "runMain graft.ScaleProbe <sfDir> <k> <name,name,...>
  * [parts]"`, or `scripts/probe.sh` outside sbt. Each name is a
  * [[Queries.registry]] query or a [[streams]] name; an unknown name
  * fails before any session exists. `parts` overrides the shuffle
  * partition count, which otherwise equals the core count.
  *
  * Query names: [[writeCorpus]] first writes the k× corpus once,
  * untimed, to a temp dir deleted at exit. Each query then runs once
  * through [[Bench.run]] (a [[Trace]] window labelled `<query>/x<k>`,
  * the noop sink, then `clearCache`) and prints a `[probe-entry]`
  * fragment as it lands: `sec` (or `err`), `spill_mb`,
  * `disk_spill_mb`, `peak_task_mem_mb`, `jobs` and `input_records`.
  * One `[probe] {...,"corpus_mb":m,"replication":k}` line follows
  * the last query.
  *
  * Stream names feed k waves of the fixture through a streaming sink,
  * one wave per micro-batch, and print one `[probe]` line each with
  * the per-batch walls of their window: long-stream flatness, which
  * no query measures.
  */
object ScaleProbe {

  /** The non-query names, k = micro-batch count. */
  private[graft] val streams: Map[String, (SparkSession, String, Int) => Unit] =
    Map("streams" -> (streamProbes _),
      "streamcompact" -> (streamCompactProbes _),
      "eventcompact" -> (eventCompactProbes _))

  /** The names in `csv`, in order: queries and stream names. A typo
    * fails here, before any session exists. */
  private[graft] def entries(csv: String): Seq[String] = {
    val picked = Queries.names("ScaleProbe", csv,
      SparkEntry.queries.keySet ++ streams.keySet)
    require(picked.nonEmpty, "ScaleProbe needs a query or stream name")
    picked
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScaleProbe <sfDir> <k> <name,name,...> [parts]")
    val dir = args(0)
    val k = args(1).toInt
    require(k >= 1, s"k must be at least 1, got $k")
    val (queries, streamNames) =
      entries(args(2)).partition(SparkEntry.queries.contains)
    // a real cluster sizes shuffle partitions with the data — let the
    // probe do the same, so partition-starvation spill (fixed 32 lanes
    // under 100× volume) is distinguishable from algorithmic blowup
    val parts = args.lift(3).map(_.toInt)
    val spark = Sessions.local(Sessions.cpus(32), parts)
    if (queries.nonEmpty) {
      val corpus = tmp("probe_corpus")
      try {
        writeCorpus(spark, dir, k, corpus)
        val frags = queries.map(queryEntry(spark, _, corpus, k))
        val corpusMb = mb(org.apache.commons.io.FileUtils
          .sizeOfDirectory(new java.io.File(corpus)))
        println((frags :+ s""""corpus_mb":$corpusMb,"replication":$k""")
          .mkString("[probe] {", ",", "}"))
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(corpus))
    }
    streamNames.foreach(streams(_)(spark, dir, k))
    spark.stop()
  }

  /** The int64 keys and foreign keys replica i offsets by i × 10⁸, so
    * FK joins stay 1:1 within each replica and key cardinality scales
    * with volume. */
  private val keyCols = Set("c_custkey", "o_orderkey", "o_custkey",
    "l_orderkey", "l_partkey", "l_suppkey", "p_partkey", "s_suppkey",
    "doc_id", "vec_id", "event_id", "user_id")

  /** Copied once: 25-row conformed dims whose int32 keys (and the int32
    * FKs that point at them) cannot take the offset. */
  private val unreplicated = Set("region", "nation")

  /** Writes the k× copy of the fixture `dir` to `out`, with the same
    * ten `<table>.parquet` names. Replica 0 is the fixture row for
    * row; replica i ≥ 1 offsets every [[keyCols]] column by i × 10⁸,
    * [[salt]]s `documents.text` and flips the signs of
    * `embeddings.embedding` by a per-replica pattern, so copies are
    * neither near-dups nor near vectors of each other. */
  private[graft] def writeCorpus(spark: SparkSession, dir: String, k: Int,
      out: String): Unit = {
    // the source scans have O(row-groups) tasks; without a fan-out the
    // whole k× generation runs in those few tasks
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Tables.names.foreach { t =>
      val src = Tables.raw(spark, dir, t)
      val copy = if (unreplicated(t)) src else replicate(src, k).repartition(parts)
      copy.write.parquet(s"$out/$t.parquet")
    }
  }

  /** `df` exploded into k replicas (one scan and one plan node for any
    * k), each column rewritten as [[writeCorpus]] describes. */
  private def replicate(df: DataFrame, k: Int): DataFrame = {
    val rep = col("__rep")
    def fresh(c: String, replica: Column): Column =
      when(rep === 0, col(c)).otherwise(replica).as(c)
    df.withColumn("__rep", explode(sequence(lit(0L), lit(k - 1L))))
      .select(df.columns.toIndexedSeq.map {
        case c if keyCols(c) => (col(c) + rep * lit(100000000L)).as(c)
        case "text" => fresh("text", salt(rep))
        // a ±1 sign per coordinate, xxhash64(rep, i) parity: a replica
        // keeps its own geometry (planted dups still pair) while its
        // cosines to other replicas collapse toward 0
        case "embedding" => fresh("embedding", transform(col("embedding"),
          (x, i) => x * when(pmod(xxhash64(rep, i), lit(2)) === 0, lit(1.0f))
            .otherwise(lit(-1.0f))))
        case c => col(c)
      }: _*)
  }

  /** The one text salt: `text` with a `zzr<rep>` token after every
    * 2 words. With MinHash's 3-token shingles every shingle then holds
    * a salt, so copies under different `rep` share no shingle and
    * their signatures are fully divergent. Sparser salt leaves bands
    * whose minima come from unsalted shingles colliding across
    * replicas, and the candidate set grows ~C(k,2) per doc: a corpus
    * artifact, not an operator cost. */
  private def salt(rep: Column): Column =
    regexp_replace(col("text"), lit("((\\S+\\s+){2})"),
      concat(lit("$1zzr"), rep, lit(" ")))

  /** Query `name` run once on the corpus `dir` by [[Bench.run]]; prints
    * and returns its fragment. */
  private def queryEntry(spark: SparkSession, name: String, dir: String,
      k: Int): String = {
    val (sec, w) = Bench.run(spark, name, dir, s"x$k")
    val outcome =
      if (sec == Bench.FailedSentinel) """"err":"failed"""" // cause on stderr
      else f""""sec":$sec%.2f"""
    val frag = s""""$name":{$outcome,""" +
      s""""spill_mb":${mb(w.memorySpillBytes)},""" +
      s""""disk_spill_mb":${mb(w.diskSpillBytes)},""" +
      s""""peak_task_mem_mb":${mb(w.peakTaskMemBytes)},${counts(w)}}"""
    println(s"[probe-entry] $frag")
    // not a listener wait: the pause gives the ContextCleaner time to
    // delete the shuffle files of the DAG the GC just released
    System.gc()
    Thread.sleep(2000)
    frag
  }

  private def mb(b: Long): Long = b / (1024 * 1024)

  /** A window's job and input-record counts as JSON members. */
  private def counts(w: Trace.Window): String =
    s""""jobs":${w.jobs.size},"input_records":${w.inputRecords}"""

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A fresh source dir holding `k` waves, one file each, whose mtimes
    * fix their arrival order (the q184 idiom): wave `i` is `wave(i)`. */
  private def waveSource(spark: SparkSession, prefix: String, k: Int)
      (wave: Int => DataFrame): String = {
    val src = tmp(prefix)
    val p = new org.apache.hadoop.fs.Path(src)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val stamped = scala.collection.mutable.Set[String]()
    (0 until k).foreach { i =>
      wave(i).coalesce(1).write.mode("append").parquet(src)
      fs.listStatus(p)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .foreach(s => if (stamped.add(s.getPath.getName))
          fs.setTimes(s.getPath, 1600000000000L + i * 1000L, -1))
    }
    src
  }

  /** The number of partition and generation dirs under a sink. */
  private def liveDirs(spark: SparkSession, sink: String): Int = {
    val p = new org.apache.hadoop.fs.Path(sink)
    p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
      .filter(_.isDirectory).map(_.getPath.getName)
      .count(n => n.startsWith("batch_id=") || n.startsWith("gen="))
  }

  /** Long-stream lifecycle probe: the near-dup ingest alone, k waves
    * (= k micro-batches), with [[graft.streaming.DocStream]] sink
    * compaction every 8 commits. The thing to certify at ~50 batches:
    * per-batch wall stays FLAT while the sink's live directory count
    * stays bounded (≤ compactEvery small partitions + one generation
    * per fold) instead of growing one data + one `_sig` directory per
    * batch forever — the many-small-files listing/union tax the r8
    * verdict flagged as the remaining streaming-scale risk. Prints
    * per-batch walls, flatness, the final live directory count, and
    * the accepted row count (which must match the uncompacted
    * semantics — compaction moves bytes, never changes the corpus). */
  private def streamCompactProbes(spark: SparkSession, dir: String,
      k: Int): Unit = {
    val sink = tmp("probe_dsc_sink") + "/accepted"
    val (accepted, w) =
      Trace.window(spark, "streamcompact/near_dup_ingest_compacting") {
        val docs = Tables.load(spark, dir, "documents")
          .select("doc_id", "text", "lang", "n_chars")
        val src = waveSource(spark, "probe_dsc_src", k)(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L))
          .withColumn("text", salt(lit(i))))
        streaming.DocStream.nearDupIngestStream(spark, src, docs,
          "doc_id", "text", 0.9, sink, "probe_dsc", Some(tmp("probe_dsc_cp")),
          maxFilesPerTrigger = Some(1), compactEvery = 8).awaitTermination()
        streaming.DocStream.accepted(spark, sink, docs).count()
      }
    println(s"""[probe] {"near_dup_ingest_compacting":${batchesJson(w.batches)},""" +
      s""""live_dirs":${liveDirs(spark, sink)},"accepted":$accepted,""" +
      s"""${counts(w)},"replication":$k}""")
  }

  /** The EVENT sink's 200-batch lifecycle probe — the DocStream
    * streamcompact protocol on [[streaming.EventStream]]'s as-of
    * enrichment sink ([[streaming.SinkFold]]): k waves of the events
    * table land as one file each (stamped mtimes fix arrival order,
    * maxFilesPerTrigger=1 makes each file one micro-batch), every
    * batch as-of enriches against a static error dimension and writes
    * its own partition, the sink folds every 8 committed batches and
    * tiers generations past the bound. This sink pays a DIFFERENT
    * per-batch shape than DocStream's (windowless as-of join, no
    * signatures, no cross-corpus dedup), so its long-horizon flatness
    * is evidence the tiered fold policy — not the dedup stack — keeps
    * batch cost bounded. Reports per-batch walls, last-third /
    * mid-third flatness, live dirs, and the conserved row count. */
  private def eventCompactProbes(spark: SparkSession, dir: String,
      k: Int): Unit = {
    val sink = tmp("probe_evc_sink") + "/enriched"
    val (rows, w) =
      Trace.window(spark, "eventcompact/asof_enrich_compacting") {
        val ev = Tables.events(spark, dir)
          .select("event_id", "user_id", "ts", "event_type", "value")
        val right = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("err_id"),
            max_by(col("value"), col("event_id")).as("err_value"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          right.count()
          val src = waveSource(spark, "probe_evc_src", k)(i => ev
            .withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L)))
          streaming.EventStream.asOfEnrichForeachBatch(spark, src, ev, right,
            "user_id", "ts", Seq("err_id", "err_value"), "err_id", sink,
            tmp("probe_evc_cp"), compactEvery = 8,
            maxFilesPerTrigger = Some(1)).awaitTermination()
          val enrichedSchema = graft.operators.AsOfJoin.asOf(ev, right,
            "user_id", "ts", Seq("err_id", "err_value"), "err_id")
          streaming.EventStream.enriched(spark, sink, enrichedSchema).count()
        } finally right.unpersist()
      }
    println(s"""[probe] {"asof_enrich_compacting":${batchesJson(w.batches)},""" +
      s""""live_dirs":${liveDirs(spark, sink)},"rows":$rows,""" +
      s"""${counts(w)},"replication":$k}""")
  }

  /** Round-8 streaming probes: PER-BATCH wall vs batch index for the
    * streaming family under AvailableNow with maxFilesPerTrigger=1 —
    * the shape that catches O(accepted)-class walls (per-batch cost
    * growing with what the stream has already committed, invisible to
    * a 3-batch correctness spec). `k` = micro-batch count; each batch
    * is one fresh corpus replica (ids offset; doc text mutated so
    * replicas are not near-dups of each other, making the accepted
    * corpus grow linearly while per-batch input stays constant).
    * Healthy = the per-batch series is FLAT after the first-batch
    * warmup; the pre-round-8 DocStream (accepted side re-read and
    * re-shingled per batch) slopes linearly here. `flatness` =
    * mean(last third)/mean(second third) — ~1 flat, ~k/2 linear. */
  private def streamProbes(spark: SparkSession, dir: String, k: Int): Unit = {
    val (accepted, w) = Trace.window(spark, "streams/all") {
      // --- near-dup ingest: the O(accepted) catcher ---------------------
      val docs = Tables.load(spark, dir, "documents")
        .select("doc_id", "text", "lang", "n_chars")
      val dsSrc = waveSource(spark, "probe_docstream_src", k)(i => docs
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L))
        .withColumn("text", salt(lit(i))))
      val dsSink = tmp("probe_docstream_sink") + "/accepted"
      val dsCp = tmp("probe_docstream_cp")
      streaming.DocStream.nearDupIngestStream(spark, dsSrc, docs,
        "doc_id", "text", 0.9, dsSink, "probe_docstream", Some(dsCp),
        maxFilesPerTrigger = Some(1)).awaitTermination()
      val accepted = streaming.DocStream.accepted(spark, dsSink, docs).count()

      // --- the same ingest with ONLINE DECONTAMINATION ------------------
      // (q193 family): per batch adds batch-gram hashing + a broadcast
      // join against the constant bench set — the per-batch wall must
      // stay as flat as the plain ingest's
      val dcSink = tmp("probe_docstream_dc_sink") + "/accepted"
      val dcCp = tmp("probe_docstream_dc_cp")
      streaming.DocStream.nearDupIngestStream(spark, dsSrc, docs,
        "doc_id", "text", 0.9, dcSink, "probe_docstream_dc", Some(dcCp),
        maxFilesPerTrigger = Some(1),
        bench = Some(docs.filter(col("doc_id") % 97 === 0)),
        benchGramN = 13).awaitTermination()

      // --- stateless SCD2 enrichment (q179 family) ----------------------
      val ordSrc = Tables.load(spark, dir, "orders").filter(col("o_custkey") < 5000)
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate")
      val scdDim = etl.Scd.scd2FromChangeLog(ordSrc,
        keyCols = Seq("o_custkey"), attrCols = Seq("o_orderpriority"),
        orderCols = Seq("o_orderdate", "o_orderkey"))
        .select(col("o_custkey"), col("o_orderpriority").as("state"),
          col("valid_from"), col("valid_to"), col("version"))
      val facts = ordSrc.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").as("ts"))
      val scdSrc = waveSource(spark, "probe_scd_src", k)(i => facts
        .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 100000000L)))
      streaming.EventStream.scdEnrichStream(spark, scdSrc, facts, scdDim,
        key = "o_custkey", ts = "ts", attrs = Seq("state", "version"),
        queryName = "probe_scd",
        maxFilesPerTrigger = Some(1)).awaitTermination()

      // --- stateful sketch aggregation (heavy hitters) ------------------
      val hhFacts = ordSrc.select(col("o_orderkey"),
        col("o_orderpriority").as("grp"), (col("o_custkey") % 1000).as("item"))
      val hhSrc = waveSource(spark, "probe_hh_src", k)(i => hhFacts
        .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 100000000L)))
      streaming.EventStream.heavyHittersStream(spark, hhSrc, hhFacts,
        groupCol = "grp", itemCol = "item", capacity = 32,
        queryName = "probe_hh",
        maxFilesPerTrigger = Some(1)).awaitTermination()
      accepted
    }

    val json = w.batches.groupBy(_.query).toSeq.sortBy(_._1).map {
      case (n, bs) => s""""$n":${batchesJson(bs)}"""
    }.mkString("{", ",",
      s""","accepted":$accepted,${counts(w)},"replication":$k}""")
    println(s"[probe] $json")
  }

  /** A stream's per-batch walls in seconds, in batch order, and their
    * flatness, mean(last third) / mean(middle third): ~1 flat, ~k/2
    * linear. */
  private def batchesJson(bs: Seq[Trace.Batch]): String = {
    val ts = bs.sortBy(_.id).map(_.ms / 1000.0)
    val third = math.max(ts.length / 3, 1)
    val mid = ts.slice(third, 2 * third)
    val flat = if (mid.isEmpty || mid.sum == 0) -1.0
      else ts.takeRight(third).sum / third / (mid.sum / mid.length)
    val arr = ts.map(t => f"$t%.2f").mkString("[", ",", "]")
    f"""{"batches":$arr,"flatness":$flat%.2f}"""
  }
}
