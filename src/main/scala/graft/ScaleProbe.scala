package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe: times operator families on a k× union-replicated
  * corpus (ids offset per replica so key cardinality scales too). Each
  * timed entry prints a `[probe-entry]` fragment as it lands, and each
  * set ends with one `[probe] {...,"replication":k}` JSON line. The
  * point is the SHAPE of the growth, not absolute numbers: an operator
  * whose cost is linear-ish in rows at 10× has no hidden
  * quadratic/driver bottleneck waiting at 1000×.
  *
  * Sets (see [[sets]]; `r3` when none is named):
  *  - `r3`: skyline, bloom semi join, hierarchy, inverted index, cross
  *    near-dup, gaps, and the round-4 operators
  *  - `r5`: exact-rank percentiles, budget mix, containment
  *  - `r6`: KMeans, hard negatives, winnow, chunk dups, DSIR, vocabulary
  *  - `r7`: the dedup/ANN third decade plus the q177 curation chain
  *  - `r7b`: span dedup, PQ / IVF-ADC, bigram perplexity
  *  - `r8`: sampled PQ fit, bloom-gated decontamination
  *  - `r9`: the stored-signature dedup faces
  *  - `r13`: band-index partition sweep (pruned lookup), restart
  *    rebuild, replay stability
  *  - `r13lookup`: band-index lookup alone at the key cap, across
  *    partition counts
  *  - `r14`: shared-scan agg registration, drill-across
  *  - `r15`: closure maintenance, budget advisor, refresh isolation
  *  - `r17`: salted cluster join at 4 fixed clusters; PQ fit
  *    (production, independent per-slice, shared-seed sequential)
  *  - `flagship`: q36 / q64 / q87 / q11 / q91
  *  - `events`: the events operator family
  *  - `asof`: as-of join, window vs native node, both directions
  *  - `zorder`: Z-order stats and clustering
  *  - `curationcmp`: curation chain, one storage path per JVM
  *    (`SPARK_GRAFT_CURATION_MODE`: `lineage`, the default, or `auto`)
  *  - `curationstages`: curation chain, one entry per stage
  *  - `sigfetch`: signature-store fetch vs the lazy semi join
  *  - `aggnav`: agg-table registration, routed drill, refresh
  *  - `viewrefresh`: partition-scoped view refresh vs materialize
  *  - `streams`, `streamcompact`, `eventcompact`: per-batch walls of
  *    the streaming sinks (k = micro-batch count)
  *
  * `SPARK_GRAFT_PROBE_ONLY=name,...` times only the named entries.
  *
  * Usage: `sbt "runMain graft.ScaleProbe <sfDir> <k> [set] [parts]"`,
  * or `scripts/probe.sh` outside sbt. `parts` overrides the shuffle
  * partition count, which otherwise equals the core count.
  */
object ScaleProbe {

  private def replicate(df: DataFrame, idCols: Seq[String], k: Int): DataFrame =
    if (k > 64) replicateExplode(df, idCols, k)
    else (0 until k).map { i =>
      idCols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + lit(i.toLong * 100000000L)))
    }.reduce(_ unionByName _)

  /** Union-replication via explode(sequence(…)) — one scan, one plan
    * node, any k. A k-way union is fine to a few dozen branches but
    * its analysis cost and plan size are O(k); posexploding a replica
    * index keeps the 1000× probe planbuild instant. Same id-offset
    * semantics as [[replicate]]. */
  private def replicateExplode(df: DataFrame, idCols: Seq[String],
      k: Int): DataFrame = {
    val rep = df.withColumn("__rep",
      explode(sequence(lit(0L), lit(k.toLong - 1L))))
    val offset = idCols.foldLeft(rep)((d, c) =>
      d.withColumn(c, col(c) + col("__rep") * lit(100000000L)))
      .drop("__rep")
    // the single source scan has O(row-groups) tasks; without a
    // fan-out the entire k× generation runs in those few tasks
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    offset.repartition(parts)
  }

  /** Every probe set by name. */
  private[graft] val sets: Map[String, (SparkSession, String, Int) => Unit] =
    Map(
      "r3" -> (r3Probes _), "r5" -> (r5Probes _), "r6" -> (r6Probes _),
      "r7" -> (r7Probes _), "r7b" -> (r7bProbes _), "r8" -> (r8Probes _),
      "r9" -> (r9Probes _), "r13" -> (r13Probes _),
      "r13lookup" -> (r13LookupProbes _), "r14" -> (r14Probes _),
      "r15" -> (r15Probes _), "r17" -> (r17Probes _),
      "flagship" -> (flagship _), "events" -> (eventsProbes _),
      "asof" -> (asofProbes _), "zorder" -> (zorderProbes _),
      "curationcmp" -> (curationCmpProbes _),
      "curationstages" -> (curationStageProbes _),
      "sigfetch" -> (sigFetchProbes _), "aggnav" -> (aggNavProbes _),
      "viewrefresh" -> (viewRefreshProbes _),
      "streams" -> (streamProbes _),
      "streamcompact" -> (streamCompactProbes _),
      "eventcompact" -> (eventCompactProbes _))

  /** The set called `name`. An unknown name fails with the valid ones,
    * so a typo never silently runs some other set. */
  private[graft] def set(name: String): (SparkSession, String, Int) => Unit =
    sets.getOrElse(name, throw new IllegalArgumentException(
      s"unknown probe set '$name'; valid sets: " +
        sets.keys.toSeq.sorted.mkString(", ")))

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val k = if (args.length > 1) args(1).toInt else 10
    val run = set(if (args.length > 2) args(2) else "r3")
    // a real cluster sizes shuffle partitions with the data — let the
    // probe do the same, so partition-starvation spill (fixed 32 lanes
    // under 100× volume) is distinguishable from algorithmic blowup
    val parts = if (args.length > 3) Some(args(3).toInt) else None
    val spark = Sessions.local(Sessions.cpus(32), parts)
    Telemetry.ensure(spark)
    run(spark, dir, k)
    spark.stop()
  }

  /** Round-6 operators at arbitrary replication. Cluster counts that
    * bound pair work (hard negatives) grow with the corpus — the
    * production dial: constant expected cell size keeps Σ m_c² linear
    * in rows. KMeans keeps k=8 fixed (centroid count is a model
    * choice, not a data-volume knob; its cost is rows × k per round
    * regardless). */
  private def r6Probes(spark: SparkSession, dir: String, k: Int): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val embK = replicate(Tables.load(spark, dir, "embeddings"),
      Seq("vec_id"), k).persist(lvl)
    val docsK = replicate(Tables.load(spark, dir, "documents"),
      Seq("doc_id"), k).persist(lvl)
    Seq(embK, docsK).foreach(_.count())

    val results = Seq(
      timeEntry("kmeans") {
        ml.KMeansRel.fitAssign(embK, "vec_id", "embedding",
          k = 8, iters = 2).count()
      },
      timeEntry("hard_negatives") {
        sim.Similarity.hardNegatives(embK, "vec_id", "embedding", "label",
          nClusters = 8 * k, k = 5).count()
      },
      timeEntry("hard_negatives_coarse") {
        // two-level assignment: exact assignment's n·c cosines are the
        // probe-measured super-linearity once c scales with the corpus;
        // nCoarse ≈ √c restores O(n·√c)
        sim.Similarity.hardNegatives(embK, "vec_id", "embedding", "label",
          nClusters = 8 * k, k = 5,
          nCoarse = math.max(4, math.ceil(math.sqrt(8.0 * k)).toInt)).count()
      },
      timeEntry("winnow") {
        text.TextOps.winnow(docsK, "doc_id", "text", k = 4, w = 4).count()
      },
      timeEntry("chunk_dup") {
        dedup.Dedup.chunkDupStats(docsK, "doc_id", "text", size = 16).count()
      },
      timeEntry("dsir") {
        text.Importance.importanceWeights(docsK, "doc_id", "text",
          col("lang") === "en").count()
      },
      timeEntry("vocab_coverage") {
        text.TextOps.vocabCoverage(docsK, "doc_id", "text",
          vocabSize = 4096).count()
      })

    report(k, results)
  }

  /** Salted explode-replication for TEXT: the [[replicateExplode]]
    * id-offset plus a replica-unique salt token every 2 words, so with
    * 3-token shingles every shingle contains a salt and replica
    * MinHash/containment signatures are fully divergent — the probe
    * measures the operator's scaling, not C(k,2) collisions between
    * identical replicas (the flagship salting, explode-form for the
    * 1000× decade where a k-way union's plan alone takes minutes). */
  private def replicateTextSalted(df: DataFrame, k: Int): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.withColumn("__rep", explode(sequence(lit(0L), lit(k.toLong - 1L))))
      .withColumn("doc_id", col("doc_id") + col("__rep") * lit(100000000L))
      .withColumn("text", regexp_replace(col("text"),
        lit("((\\S+\\s+){2})"),
        concat(lit("$1zzr"), col("__rep"), lit(" "))))
      .drop("__rep")
      .repartition(parts)
  }

  /** Salted explode-replication for VECTORS: id offset plus a
    * per-replica deterministic ±1 sign pattern over the coordinates
    * (xxhash64(rep, i) parity). Within a replica the corpus geometry
    * is intact (planted dups still pair); across replicas cosines
    * collapse toward 0, so pair-emitting probes (SemDeDup) don't
    * drown in C(k,2) identical-replica pairs. */
  private def replicateVecSalted(df: DataFrame, k: Int): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.withColumn("__rep", explode(sequence(lit(0L), lit(k.toLong - 1L))))
      .withColumn("vec_id", col("vec_id") + col("__rep") * lit(100000000L))
      .withColumn("embedding", transform(col("embedding"),
        (x, i) => x * when(pmod(xxhash64(col("__rep"), i), lit(2)) === 0,
          lit(1.0f)).otherwise(lit(-1.0f))))
      .drop("__rep")
      .repartition(parts)
  }

  /** Round-7, second wave: the session's new operator families —
    * exact substring (span) dedup, PQ / IVF-ADC ANN, and the bigram
    * perplexity gate — probed across decades on the same salted
    * replicators. Query COUNT is held constant for the ADC probes
    * (replica-0 ids only): the scan is queries × corpus by design, so
    * a probe that grew both sides would measure the square, not the
    * operator. The IVF-ADC coarse book is fixed at 64 cells / 8
    * probes: nlist is a recall dial, not a data-size dial, and the
    * probe measures the pruned-scan slope. */
  private def r7bProbes(spark: SparkSession, dir: String, k: Int): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docsK = replicateTextSalted(Tables.load(spark, dir, "documents"), k)
      .persist(lvl)
    val embK = replicateVecSalted(Tables.load(spark, dir, "embeddings"), k)
      .persist(lvl)
    Seq(docsK, embK).foreach(_.count())

    val results = Seq(
      timeEntry("span_dedup") {
        // sum over clean_text lengths forces the reassembly (a bare
        // count() would let Catalyst prune the whole coverage chain)
        dedup.Dedup.spanDedup(docsK, "doc_id", "text", w = 8)
          .agg(sum(length(col("clean_text"))).as("c"),
            sum(col("n_removed")).as("r"))
          .head().getLong(1)
      },
      timeEntry("pq_fit_encode_adc") {
        // constant 20-query set (replica 0): ADC cost = queries × codes
        val model = sim.Pq.fit(embK, "vec_id", "embedding",
          m = 4, kCodes = 16, iters = 1)
        sim.Pq.adcTopK(
          sim.Pq.encode(embK, "vec_id", "embedding", model), "vec_id",
          embK.filter(col("vec_id") < 100000000L && col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding")),
          "qid", "embedding", model, k = 10).count()
      },
      timeEntry("ivfadc_topk") {
        val model = sim.Pq.ivfAdcFit(embK, "vec_id", "embedding",
          nlist = 64, m = 4, kCodes = 16, iters = 1)
        val index = sim.Pq.ivfAdcIndex(embK, "vec_id", "embedding", model)
          .persist(lvl)
        index.count()
        val n = sim.Pq.ivfAdcTopK(index, "vec_id",
          embK.filter(col("vec_id") < 100000000L && col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding")),
          "qid", "embedding", model, nprobe = 8, k = 10).count()
        index.unpersist()
        n
      },
      timeEntry("perplexity") {
        text.NgramLm.perplexity(docsK, "doc_id", "text")
          .agg(sum(col("n_bigrams")).as("b"), sum(col("ppl")).as("p"))
          .head().getLong(0)
      })

    report(k, results)
  }

  /** Round-17 probes (VERDICT r16 item 7): decade evidence for the
    * round-16 techniques — the sf0.1 bench is overhead-bound and
    * cannot see them.
    *  - salted low-cardinality cluster join (q161's shape: nClusters=4
    *    FIXED, salt slices = parallelism/clusters);
    *  - the production PQ sub-quantizer fit (shared seed draw +
    *    Par-overlapped per-subspace Lloyd loops) vs m independent
    *    per-slice fits and the shared-seed SEQUENTIAL loops — the
    *    KMeansRelSpec bit-identity comparator, priced at decades. */
  private def r17Probes(spark: SparkSession, dir: String, k: Int): Unit = {
    // STAGED PARQUET, deliberately NOT block-cached: the PQ fit
    // variants differ in CORPUS PASSES — with the replicated corpus
    // persisted in executor memory a pass costs ~nothing and the probe
    // would hide exactly the scan cost the variants trade. Reading a
    // real parquet per pass prices passes the way a 100 TB deployment
    // pays them.
    val staged = java.nio.file.Files
      .createTempDirectory("probe_r17_emb").toString
    replicateVecSalted(Tables.load(spark, dir, "embeddings"), k).write
      .mode("overwrite").parquet(staged)
    def embK = spark.read.parquet(staged)
    val m = 4
    val kCodes = 16
    val iters = 2
    lazy val subDim = {
      val dim = embK
        .agg(max(org.apache.spark.sql.functions.size(col("embedding"))))
        .head().getInt(0)
      require(dim % m == 0, s"dim $dim must divide into $m subspaces")
      dim / m
    }
    try {
      val results = Seq(
        "hard_negatives_salted" -> (() =>
          sim.Similarity.hardNegatives(embK, "vec_id", "embedding", "label",
            nClusters = 4, k = 5).count()),
        // the PRODUCTION path (r17): shared full-vector seed draw +
        // Par-overlapped per-subspace Lloyd loops
        "pq_fit" -> (() =>
          sim.Pq.fit(embK, "vec_id", "embedding", m, kCodes, iters)
            .books.map(_.length.toLong).sum),
        "pq_fit_independent" -> (() =>
          (0 until m).map { s =>
            ml.KMeansRel.fitCentroids(
              embK.select(col("vec_id"),
                slice(col("embedding").cast("array<double>"),
                  s * subDim + 1, subDim).as("__sub")),
              "vec_id", "__sub", kCodes, iters).length.toLong
          }.sum),
        // A/B isolator: shared seed draw, SEQUENTIAL per-subspace loops
        "pq_fit_shared_seq" -> (() => {
          val seeds = ml.KMeansRel.seedsOf(embK, "vec_id", "embedding",
            kCodes)
          (0 until m).map { s =>
            ml.KMeansRel.fitCentroidsFromSeeds(
              embK.select(col("vec_id"),
                slice(col("embedding").cast("array<double>"),
                  s * subDim + 1, subDim).as("__sub")),
              "vec_id", "__sub",
              seeds.map(c => c.slice(s * subDim, (s + 1) * subDim)),
              iters).length.toLong
          }.sum
        })
      ).map { case (n, f) => timeEntry(n)(f()) }
      report(k, results)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staged))
  }

  /** Round-8 probes: the sampled-PQ fit (the r7 verdict's PQ-fit
    * per-row 1.6 fix) and the bloom-gated decontamination stage in
    * isolation. The sample threshold SHRINKS with the decade so the
    * absolute sample size stays ≈ the base corpus — the production
    * configuration (codebook quality needs a fixed number of points
    * per code, not a fixed fraction), and the reason fit cost should
    * be ~FLAT across decades while encode scales per-row ~1. */
  private def r8Probes(spark: SparkSession, dir: String, k: Int): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docsK = replicateTextSalted(Tables.load(spark, dir, "documents"), k)
      .persist(lvl)
    val embK = replicateVecSalted(Tables.load(spark, dir, "embeddings"), k)
      .persist(lvl)
    Seq(docsK, embK).foreach(_.count())
    // ~fixed absolute sample: fraction ≈ 1/k via the md5 hex prefix
    val thr = if (k >= 1000) "004" else if (k >= 100) "02"
      else if (k >= 10) "1" else "g"

    val results = Seq(
      timeEntry("pq_fit_full") {
        sim.Pq.fit(embK, "vec_id", "embedding",
          m = 4, kCodes = 16, iters = 1).books.length.toLong
      },
      timeEntry("pq_fit_sample") {
        sim.Pq.fitSample(embK, "vec_id", "embedding",
          m = 4, kCodes = 16, iters = 1, hexThreshold = thr)
          .books.length.toLong
      },
      timeEntry("pq_sample_encode_adc") {
        val model = sim.Pq.fitSample(embK, "vec_id", "embedding",
          m = 4, kCodes = 16, iters = 1, hexThreshold = thr)
        sim.Pq.adcTopK(
          sim.Pq.encode(embK, "vec_id", "embedding", model), "vec_id",
          embK.filter(col("vec_id") < 100000000L && col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding")),
          "qid", "embedding", model, k = 10).count()
      },
      timeEntry("decontaminate_bloom") {
        // the q177 chain's 52%-share stage, isolated: constant-sized
        // benchmark side, corpus grams bloom-gated before the exact
        // semi join
        text.Decontaminate.decontaminate(
          docsK.filter(col("doc_id") >= 10),
          docsK.filter(col("doc_id") < 10),
          "doc_id", "text", n = 4).count()
      })

    report(k, results)
  }

  /** Round-9: the stored-signature dedup faces' own decade evidence.
    * The streams probe proves per-BATCH flatness; this one prices the
    * batch faces across corpus decades: signature build+store (the
    * one-time ingest cost), dedup entirely from the store
    * ([[graft.dedup.Dedup.nearDupPairsFromSignatures]] — q187's
    * shape) vs the text path on the same corpus, and incremental
    * cross-dedup of a half-corpus batch against the other half's
    * STORED signatures ([[graft.dedup.Dedup
    * .crossNearDupPairsVsSignatures]] — the DocStream steady state).
    * The claim to certify: per-row cost of the stored paths holds
    * ≤~1 across decades, and the stored dedup never re-shingles
    * (its cost tracks the text path minus the shingle build). */
  private def r9Probes(spark: SparkSession, dir: String, k: Int): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docsK = replicateTextSalted(Tables.load(spark, dir, "documents"), k)
      .persist(lvl)
    docsK.count()
    val sigDir = java.nio.file.Files.createTempDirectory("probe_sigs").toString
    try {
      val results = Seq(
        timeEntry("sig_build_store") {
          dedup.Dedup.nearDupSignatures(docsK, "doc_id", "text")
            .write.mode("overwrite").parquet(sigDir)
          spark.read.parquet(sigDir).count()
        },
        timeEntry("neardup_text") {
          dedup.Dedup.nearDupPairs(docsK, "doc_id", "text",
            threshold = 0.9).count()
        },
        timeEntry("neardup_from_sigs") {
          dedup.Dedup.nearDupPairsFromSignatures(
            spark.read.parquet(sigDir), threshold = 0.9).count()
        },
        timeEntry("cross_vs_sigs") {
          dedup.Dedup.crossNearDupPairsVsSignatures(
            docsK.filter(col("doc_id") % 2 === 0), "doc_id", "text",
            spark.read.parquet(sigDir).filter(col("id") % 2 === 1),
            threshold = 0.9).count()
        })
      report(k, results)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sigDir))
  }

  /** Head-to-head: the q177 curation chain on raw lineage vs on the
    * auto scratch+pins path ([[graft.etl.Curation.curate]]'s
    * `scratchAutoBytes` gate). The chain's early stages feed 3+
    * consumers each, so the lineage plan recomputes them per consumer
    * — this probe prices that recomputation factor at scale. Identical
    * output by CurationSpec's bit-identity test. */
  private def curationCmpProbes(spark: SparkSession, dir: String,
      k: Int): Unit = {
    // SPARK_GRAFT_CURATION_MODE selects ONE mode so each runs in its
    // own fresh JVM: the original several-in-one-JVM sequence had
    // ORDERING BIAS — the first mode paid the whole JVM/JIT/codegen
    // warmup and the last ran hottest, overstating the later modes'
    // advantage (r9 re-shots: scratch measured 129.7 s in third
    // position but 377–627 s cold). One JVM per mode is the honest
    // comparator.
    val modes = Seq("lineage", "auto")
    val mode = sys.env.getOrElse("SPARK_GRAFT_CURATION_MODE", "lineage")
    require(modes.contains(mode), s"unknown SPARK_GRAFT_CURATION_MODE " +
      s"'$mode'; valid modes: ${modes.mkString(", ")}")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docsK = replicateTextSalted(Tables.load(spark, dir, "documents"), k)
      .persist(lvl)
    docsK.count()
    val weights = Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "zh" -> 0.1)
    def chain(autoBytes: Long): Long =
      etl.Curation.exportProfile(
        etl.Curation.curate(docsK, "doc_id", "text", "lang", "n_chars",
          threshold = 0.9, minQuality = 0.3,
          benchmark = docsK.filter(col("doc_id") < 10), decontaminateN = 4,
          weights = weights, budget = 40000L * k,
          corpusPredicate = col("doc_id") >= 10,
          scratchAutoBytes = autoBytes),
        "doc_id", "n_chars", 8).count()
    val results =
      if (mode == "lineage")
        // the gate disabled, so the entry prices lineage at any scale
        Seq(timeEntry("curation_lineage") { chain(Long.MaxValue) })
      else {
        // knob-free: the ScratchAutoBytes stats gate must route the
        // chain through its own warehouse scratch at probe scale — the
        // r10 default-mode verification. A poll thread records whether
        // the scratch directory actually appeared (it is deleted in
        // the chain's own finally, so only a live watch can see it).
        @volatile var sawScratch = false
        @volatile var chainDone = false
        val wh = new java.io.File(new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
        val watcher = new Thread(() => {
          while (!chainDone) {
            val ls = Option(wh.list()).getOrElse(Array.empty[String])
            if (ls.exists(_.startsWith("_graft_curation_scratch_")))
              sawScratch = true
            Thread.sleep(250)
          }
        })
        watcher.setDaemon(true)
        watcher.start()
        val frag = timeEntry("curation_auto") {
          chain(etl.Curation.ScratchAutoBytes) }
        chainDone = true
        Seq(frag, Some(s""""auto_scratch_path_taken":$sawScratch"""))
      }
    report(k, results)
  }

  /** Stage-level timing of the curation chain: every stage's INPUT is
    * pinned before its own timer starts, so each entry prices one
    * stage's own work, not its lineage — the attribution the
    * lineage-vs-scratch head-to-head can't give. */
  private def curationStageProbes(spark: SparkSession, dir: String,
      k: Int): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docsK = replicateTextSalted(Tables.load(spark, dir, "documents"), k)
      .persist(lvl)
    docsK.count()
    val weights = Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "zh" -> 0.1)
    val d1 = dedup.Dedup.dropExactDups(docsK, "doc_id", "text").persist(lvl)
    val r1 = timeEntry("s1_exact_dedup") { d1.count() }
    // signatures materialized ONCE (the Curation.curate scratch+pins
    // shape since round 9): the pair plan's banding and verify
    // branches both read them, and the r9 decade probe prices the
    // stored path 6.7× under the from-text path
    val sigs = dedup.Dedup.nearDupSignatures(d1, "doc_id", "text")
      .persist(lvl)
    val r2s = timeEntry("s2s_sig_build") { sigs.count() }
    val pairs = dedup.Dedup
      .nearDupPairsFromSignatures(sigs, threshold = 0.9).persist(lvl)
    val r2a = timeEntry("s2a_neardup_pairs") { pairs.count() }
    val d2 = dedup.Dedup.dropNearDups(d1, "doc_id", pairs).persist(lvl)
    val r2b = timeEntry("s2b_cc_drop") { d2.count() }
    val d3 = d2.filter(
      round(text.TextOps.qualityScore(col("text")), 6) >= 0.3)
    val d4 = text.Decontaminate.decontaminate(
      d3.filter(col("doc_id") >= 10), docsK.filter(col("doc_id") < 10),
      "doc_id", "text", n = 4).persist(lvl)
    val r4 = timeEntry("s3_quality_s4_decontaminate") { d4.count() }
    val d5 = features.Features.budgetMixSample(
      d4.select("doc_id", "lang", "n_chars"), "lang", "doc_id", "n_chars",
      weights, budget = 40000L * k)
    val r5 = timeEntry("s5_budget_mix_shards") {
      d5.withColumn("shard", operators.Shards.shardCol("doc_id", 8))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .count()
    }
    report(k, Seq(r1, r2s, r2a, r2b, r4, r5))
  }

  /** Task-metrics telemetry for the probe entries: cumulative spill
    * counters plus a per-window max of task peak execution memory.
    * The r9 curation-chain cold shots spanned 2.2× on the documented
    * memory-occupancy band with no data attributing WHERE the memory
    * pressure lands — these columns attribute it per stage (the
    * VERDICT r9 "chain-variance attribution" ask). Listener-based, so
    * the timed work is untouched. */
  private object Telemetry
      extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val memSpill = new AtomicLong
    val diskSpill = new AtomicLong
    val windowPeakTaskMem = new AtomicLong
    @volatile private var registered = false
    def ensure(spark: SparkSession): Unit = synchronized {
      if (!registered) {
        spark.sparkContext.addSparkListener(this)
        registered = true
      }
    }
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        windowPeakTaskMem.accumulateAndGet(m.peakExecutionMemory,
          math.max(_, _))
      }
    }
  }

  /** Per-entry timer that PRINTS each fragment as it lands and turns
    * an entry's failure into an "err" fragment instead of losing the
    * whole set — a probe decade whose last entry exhausts this box's
    * shuffle disk (containment at 1000×) must still report the
    * entries that finished. Each fragment carries the window's spill
    * deltas and max task-peak memory (see [[Telemetry]]). An entry
    * left out of `SPARK_GRAFT_PROBE_ONLY` is not run: None. */
  private def timeEntry(name: String)(f: => Long): Option[String] =
    if (!probeOnly.forall(_.contains(name))) None
    else {
      val mem0 = Telemetry.memSpill.get()
      val disk0 = Telemetry.diskSpill.get()
      Telemetry.windowPeakTaskMem.set(0L)
      val s = System.nanoTime()
      val result = try Right(f) catch { case e: Throwable => Left(e) }
      val sec = (System.nanoTime() - s) / 1e9
      // the window's last task-end events are still on the async bus
      org.apache.spark.sql.graft.Bridge
        .waitListenerBusEmpty(SparkSession.active.sparkContext)
      def mb(b: Long): Long = b / (1024 * 1024)
      val outcome = result.fold(
        e => s""""err":"${e.getClass.getSimpleName}"""", n => s""""rows":$n""")
      val frag = f""""$name":{"sec":$sec%.2f,$outcome,""" +
        s""""spill_mb":${mb(Telemetry.memSpill.get() - mem0)},""" +
        s""""disk_spill_mb":${mb(Telemetry.diskSpill.get() - disk0)},""" +
        s""""peak_task_mem_mb":${mb(Telemetry.windowPeakTaskMem.get())}}"""
      println(s"[probe-entry] $frag")
      // not a listener wait: the pause gives the ContextCleaner time to
      // delete the shuffle files of the DAG the GC just released
      System.gc()
      Thread.sleep(2000)
      Some(frag)
    }

  private val probeOnly: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** A set's closing line; the `[probe]` prefix is greppable past sbt
    * log noise. */
  private def report(k: Int, frags: Seq[Option[String]]): Unit =
    println((frags.flatten :+ s""""replication":$k""")
      .mkString("[probe] {", ",", "}"))

  /** Round-7: the dedup/ANN family's third probe decade (the verdict's
    * missing evidence tier) plus the q177 end-to-end curation chain.
    * Cluster counts scale with the corpus (constant expected cell
    * size) — at 1000× that pushes nClusters past the CoarseAuto
    * threshold, so these probes ALSO evidence that the default now
    * takes the two-level plan with no knob set. */
  private def r7Probes(spark: SparkSession, dir: String, k: Int): Unit = {
    // shuffle files persist until ContextCleaner GCs their
    // dependencies — at the 1000× decade the set's accumulated
    // scratch exceeds the box's disk, so timeEntry releases each
    // probe's DAG eagerly once timed (outside the timed window), and
    // prints each fragment as it lands: a decade whose LAST entry
    // dies on disk still reports the entries that finished.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docsK = replicateTextSalted(Tables.load(spark, dir, "documents"), k)
      .persist(lvl)
    val embK = replicateVecSalted(Tables.load(spark, dir, "embeddings"), k)
      .persist(lvl)
    Seq(docsK, embK).foreach(_.count())

    val results = Seq(
      timeEntry("minhash_lsh") {
        dedup.Dedup.nearDupPairs(docsK, "doc_id", "text",
          threshold = 0.9).count()
      },
      timeEntry("cross_dup") {
        dedup.Dedup.crossNearDupPairs(
          docsK.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          docsK.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          threshold = 0.9).count()
      },
      timeEntry("semantic_dup") {
        // cells scale with the corpus; past 128 seeds CoarseAuto takes
        // the two-level path by DEFAULT — this is the no-knob evidence
        dedup.Dedup.semanticDupPairs(embK, "vec_id", "embedding",
          k = 8 * k, threshold = 0.999).count()
      },
      timeEntry("knn_join") {
        sim.Similarity.knnJoin(
          embK.filter(col("vec_id") % 50 === 0), "vec_id",
          embK, "vec_id", "embedding", nClusters = 8 * k, k = 3).count()
      },
      timeEntry("curation_pipeline") {
        // the q177 chain at k× volume: budget scales with the corpus
        val d1 = dedup.Dedup.dropExactDups(docsK, "doc_id", "text")
        val d2 = dedup.Dedup.dropNearDups(d1, "doc_id",
          dedup.Dedup.nearDupPairs(d1, "doc_id", "text", threshold = 0.9))
        val d3 = d2.filter(
          round(text.TextOps.qualityScore(col("text")), 6) >= 0.3)
        val d4 = text.Decontaminate.decontaminate(
          d3.filter(col("doc_id") >= 10),
          docsK.filter(col("doc_id") < 10), "doc_id", "text", n = 4)
        val d5 = features.Features.budgetMixSample(
          d4.select("doc_id", "lang", "n_chars"),
          "lang", "doc_id", "n_chars",
          Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "zh" -> 0.1),
          budget = 40000L * k)
        d5.withColumn("shard", operators.Shards.shardCol("doc_id", 8))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
          .count()
      },
      // containment runs LAST: its candidate distinct is the set's
      // largest scratch consumer. At the 1000× decade the probe
      // SKIPS it outright: this salted corpus is all-pairs-dense
      // WITHIN each replica by construction, so the candidate pair
      // relation alone is ~12.5G rows (~300 GB of shuffle scratch
      // before verification starts) — measured: the box's 80 GB free
      // disk dies mid-distinct even with the stage-1 hash relation
      // (1.75 GB) broadcast. That is the operator's documented
      // Σ min(df,cap)² candidate bound doing exactly what it says; a
      // 1000-executor cluster holds the shuffle, one box does not,
      // and an entry that thrashes retry loops for an hour before
      // ENOSPC measures the disk, not the operator.
      if (k >= 1000)
        Some(""""containment":{"skipped":"single-box disk: all-pairs-dense candidates ~300GB scratch at this decade"}""")
      else timeEntry("containment") {
        dedup.Dedup.containmentPairs(docsK, "doc_id", "text",
          threshold = 0.8).count()
      })

    report(k, results)
  }

  /** The events operator family (funnel, transitions, sessionization,
    * heavy hitters, sketched rolling DAU, TWAP) at arbitrary
    * replication — the family had never been scale-probed (its fixture
    * break predates the probe sets). event_id AND user_id offset per
    * replica: key cardinality scales with volume while per-user
    * history depth stays fixed — the realistic growth mode for an
    * event log (more users, not deeper per-user history). count() is a
    * fair sink for every entry here: each is an aggregation whose
    * output the count cannot prune (unlike the as-of probe's window).
    */
  private def eventsProbes(spark: SparkSession, dir: String, k: Int): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // props dropped before persist: no probe reads it, and the
    // free-text payload would dominate the cached bytes at 1000×
    val evK = replicate(
      Tables.events(spark, dir)
        .select("event_id", "user_id", "ts", "event_type", "value"),
      Seq("event_id", "user_id"), k).persist(lvl)
    evK.count()

    val results = Seq(
      timeEntry("funnel") {
        operators.Funnel.counts(evK, "user_id", "event_type", "ts",
          Seq("view", "click", "purchase")).count()
      },
      timeEntry("transitions") {
        operators.Paths.transitionMatrix(evK, "user_id", "event_type",
          "ts", "event_id").count()
      },
      timeEntry("sessionize_window") {
        streaming.EventStream.sessionizeBatch(evK, 1800L).count()
      },
      timeEntry("sessionize_native") {
        streaming.EventStream.sessionizeNative(evK, 1800L).count()
      },
      timeEntry("heavy_hitters") {
        operators.HeavyHitters(evK, col("user_id"), 200).count()
      },
      timeEntry("hll_dau7") {
        val perDay = evK.filter(col("user_id").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
        val mx = perDay.agg(max(col("day")).as("mday"))
        perDay.select(col("sk"),
            explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"))
          .join(broadcast(mx), col("wday") <= col("mday"))
          .groupBy(col("wday").as("day"))
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
          .count()
      },
      timeEntry("twap") {
        // FORCED unchunked (chunkSeconds = 0): ~5 event types = 5
        // sort tasks — the measured wall, kept as the comparison floor
        features.Features.timeWeightedAvg(
          evK.select(col("event_type"), unix_timestamp(col("ts")).as("sec"),
            col("event_id"), col("value")),
          "event_type", "sec", "event_id", "value",
          chunkSeconds = 0L).count()
      },
      timeEntry("twap_chunked") {
        features.Features.timeWeightedAvg(
          evK.select(col("event_type"), unix_timestamp(col("ts")).as("sec"),
            col("event_id"), col("value")),
          "event_type", "sec", "event_id", "value",
          chunkSeconds = 86400L).count()
      },
      timeEntry("twap_auto") {
        // the ChunkAuto DEFAULT: probe + data-chosen path — at this
        // decade the probe must pick a chunked plan, not the wall
        features.Features.timeWeightedAvg(
          evK.select(col("event_type"), unix_timestamp(col("ts")).as("sec"),
            col("event_id"), col("value")),
          "event_type", "sec", "event_id", "value").count()
      },
      timeEntry("cusum") {
        // noop, not count(): count prunes the unused cusum WINDOW out
        // of the unchunked plan (leaving a bare scan) but cannot
        // eliminate the chunked path's stitch joins — same fairness
        // trap as the as-of probe, caught by rows≠work here
        features.Features.cusumDeviation(
          evK.select(col("event_type"), unix_timestamp(col("ts")).as("sec"),
            col("event_id"), col("value")),
          "event_type", "sec", "event_id", "value",
          chunkSeconds = 0L)
          .write.format("noop").mode("overwrite").save()
        0L
      },
      timeEntry("cusum_chunked") {
        features.Features.cusumDeviation(
          evK.select(col("event_type"), unix_timestamp(col("ts")).as("sec"),
            col("event_id"), col("value")),
          "event_type", "sec", "event_id", "value",
          chunkSeconds = 86400L)
          .write.format("noop").mode("overwrite").save()
        0L
      },
      timeEntry("cusum_auto") {
        features.Features.cusumDeviation(
          evK.select(col("event_type"), unix_timestamp(col("ts")).as("sec"),
            col("event_id"), col("value")),
          "event_type", "sec", "event_id", "value")
          .write.format("noop").mode("overwrite").save()
        0L
      })

    report(k, results)
  }

  /** As-of join, window formulation vs native merge node, at
    * arbitrary replication. Replicas offset user_id AND event_id, so
    * key cardinality scales with volume while per-key history length
    * stays fixed — the realistic growth mode for an event log (more
    * users, not deeper per-user history). Both formulations shuffle
    * once per side on user_id; the native node then merges without
    * materializing the unioned sort, so its working set per task is
    * O(right-rows-per-key), not O(union). */
  private def asofProbes(spark: SparkSession, dir: String, k: Int): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // drop props before persisting: the free-text payload is dead
    // weight for the join and dominates the cached bytes at 1000×
    val evK = replicate(
      Tables.events(spark, dir)
        .select("event_id", "user_id", "ts", "event_type", "value"),
      Seq("event_id", "user_id"), k).persist(lvl)
    evK.count()
    val clicks = evK.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val errors = evK.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("err_id"),
        max_by(col("value"), col("event_id")).as("err_value"))

    // noop sink, NOT count(): under count() Catalyst prunes the unused
    // window expression out of the window formulation (skipping the
    // whole window pass) but cannot prune through the opaque native
    // node — the comparison must force every output column on both
    def full(df: DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save(); 0L
    }
    val results = Seq(
      timeEntry("asof_window") {
        full(operators.AsOfJoin.asOf(clicks, errors, "user_id", "ts",
          Seq("err_id", "err_value"), "err_id"))
      },
      timeEntry("asof_native") {
        full(operators.AsOfJoin.asOfNative(clicks, errors, "user_id", "ts",
          Seq("err_id", "err_value"), "err_id"))
      },
      // the round-9 direction flip, same fixture: the forward scan
      // must track its backward twin decade-for-decade on both faces
      timeEntry("asof_window_fwd") {
        full(operators.AsOfJoin.asOf(clicks, errors, "user_id", "ts",
          Seq("err_id", "err_value"), "err_id", forward = true))
      },
      timeEntry("asof_native_fwd") {
        full(operators.AsOfJoin.asOfNative(clicks, errors, "user_id", "ts",
          Seq("err_id", "err_value"), "err_id", forward = true))
      })

    report(k, results)
  }

  /** Z-order layout at arbitrary replication: volume grows with k
    * (replicas offset l_orderkey; the clustered key domain stays
    * fixed, the realistic growth mode for re-layout jobs). Both
    * entries are one pass + one exchange — the decade ratio per row
    * must stay ~flat. */
  private def zorderProbes(spark: SparkSession, dir: String, k: Int): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val li = replicate(
      Tables.load(spark, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey"),
      Seq("l_orderkey"), k).persist(lvl)
    li.count()
    val results = Seq(
      timeEntry("zorder_stats") {
        operators.ZOrder.zBucketStats(li, "l_partkey", "l_suppkey", 64)
          .write.format("noop").mode("overwrite").save(); 0L
      },
      timeEntry("zorder_cluster") {
        operators.ZOrder.cluster(li, "l_partkey", "l_suppkey", 64)
          .write.format("noop").mode("overwrite").save(); 0L
      })
    li.unpersist()
    report(k, results)
  }

  /** Round-5 operators at arbitrary replication: ExactRank percentiles
    * on FEW-HUGE groups (its design point — 3 groups × 6M rows per
    * replica decade), budget mixture sampling, and inverted-index
    * containment (docs salted as in [[flagship]]). */
  private def r5Probes(spark: SparkSession, dir: String, k: Int): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val liK = replicate(Tables.load(spark, dir, "lineitem"),
      Seq("l_orderkey"), k).persist(lvl)
    val docsK = (0 until k).map { i =>
      Tables.load(spark, dir, "documents")
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L))
        .withColumn("text",
          regexp_replace(col("text"), "((\\S+\\s+){2})", s"$$1zzr$i "))
    }.reduce(_ unionByName _).persist(lvl)
    Seq(liK, docsK).foreach(_.count())

    val results = Seq(
      timeEntry("exact_rank_pctl") {
        features.Features.groupPercentilesRank(
          liK.select(col("l_returnflag"),
            col("l_extendedprice").cast("double").as("v")),
          "l_returnflag", col("v"),
          Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75")).count()
      },
      timeEntry("budget_mix") {
        features.Features.budgetMixSample(
          docsK.select("doc_id", "lang", "n_chars"),
          "lang", "doc_id", "n_chars",
          Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "zh" -> 0.1),
          budget = 40000L * k).count()
      },
      timeEntry("containment") {
        // default df cap (1000): this synthetic corpus builds its
        // containment pairs from shared sentence templates, so the
        // hot-shingle tail IS the signal here — the cap bounds Σ df²
        // while keeping the pairs (cap 100 finds 0 rows 50× faster;
        // real corpora sit between)
        dedup.Dedup.containmentPairs(docsK, "doc_id", "text",
          threshold = 0.8).count()
      })

    report(k, results)
  }

  private def r3Probes(spark: SparkSession, dir: String, k: Int): Unit = {

    val partK = replicate(Tables.load(spark, dir, "part"),
      Seq("p_partkey"), k).cache()
    val liK = replicate(Tables.load(spark, dir, "lineitem"),
      Seq("l_orderkey"), k).cache()
    val docsK = replicate(Tables.load(spark, dir, "documents"),
      Seq("doc_id"), k).cache()
    Seq(partK, liK, docsK).foreach(_.count()) // materialize outside timings

    val results = Seq(
      timeEntry("skyline") {
        operators.Skyline.skyline(
          partK.select("p_partkey", "p_size", "p_retailprice"),
          Seq("p_size", "p_retailprice")).count()
      },
      timeEntry("bloom_semi") {
        val hot = Tables.load(spark, dir, "orders")
          .filter(col("o_totalprice") > 400000d)
        operators.BloomJoin.semiJoin(liK, "l_orderkey", hot, "o_orderkey",
          expectedItems = 40000L).count()
      },
      timeEntry("hierarchy") {
        operators.Hierarchy.rootAndDepth(
          partK.select(col("p_partkey").as("id"),
            when(col("p_partkey") % 100000000L >= 10,
              expr("p_partkey DIV 10")).as("parent")),
          "id", "parent").count()
      },
      timeEntry("inverted_index_search") {
        text.TextOps.searchAnd(
          text.TextOps.invertedIndex(docsK, "doc_id", "text"),
          Seq("batch", "scan", "join")).count()
      },
      timeEntry("cross_near_dup") {
        dedup.Dedup.crossNearDupPairs(
          docsK.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          docsK.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          threshold = 0.9).count()
      },
      timeEntry("gaps") {
        operators.Gaps.missingRanges(
          liK.select(col("l_orderkey")).filter(col("l_orderkey") % 10 =!= 3),
          "l_orderkey", bucketWidth = 100000L).count()
      },
      // round-4 ops
      timeEntry("cumsum_two_level") {
        // bucketWidth 4 over ~6M distinct keys → ~1.5M buckets, far
        // past the 100k cap: exercises the distributed offset fallback
        val seq = liK.select(
          (col("l_orderkey") * 10 + col("l_linenumber")).as("ord"),
          col("l_quantity").cast("long").as("v"))
        operators.PrefixSum.cumsum(seq, "ord", "v", "cs",
          bucketWidth = 4, maxDriverBuckets = 100000L).count()
      },
      timeEntry("auc_rank_window") {
        // ~100k distinct grid-quantized scores through the bounded
        // global rank window — the q133 shape at 10×
        val scored = liK.select(
          when(col("l_returnflag") === "R", 1).otherwise(0).as("label"),
          round(col("l_extendedprice").cast("double") / 1000.0, 2).as("score"))
        ml.Metrics.aucBinary(scored, "label", "score").count()
      },
      timeEntry("basket_rules") {
        // pair blowup bounded by basket size (≤7 lines/order): the
        // a<b self-join at 6M item rows
        operators.Basket.pairRules(
          liK.select(col("l_orderkey"), (col("l_partkey") % 100).as("i")),
          "l_orderkey", "i", minPairCount = 50L).count()
      },
      timeEntry("mad_outliers") {
        graft.features.Features.madOutliers(
          liK.select(col("l_returnflag"), col("l_extendedprice")
            .cast("double").as("p")),
          "l_returnflag", "p", k = 4.0).count()
      },
      timeEntry("gini_by_group") {
        ml.Metrics.giniByGroup(
          liK.select(col("l_returnflag"), col("l_extendedprice")),
          "l_returnflag", "l_extendedprice").count()
      })

    report(k, results)
  }

  /** The flagship five from the round-4 verdict (q36 / q64 / q87 /
    * q91 / q11-vs-q87), probed at arbitrary replication — run at 10
    * and 100 and compare per-row cost (a flat ratio means one more
    * decade holds no constant-factor cliff).
    *
    * Documents are SALTED per replica (a replica marker token injected
    * every 2 words — dense enough that EVERY 3-token MinHash shingle
    * carries one): union-replication alone would make each doc's
    * k copies mutual near-dups, growing the q64 pair relation
    * quadratically in k BY CONSTRUCTION — a corpus artifact, not an
    * operator cost. Sparser salt is not enough: bands whose minima
    * come from unsalted shingles still collide ACROSS replicas and
    * the candidate set grows ~C(k,2)/doc. Dense salting keeps replica
    * signatures fully divergent so the probe measures the operator's
    * scaling, not the synthetic corpus's.
    *
    * Usage: `sbt "runMain graft.ScaleProbe /root/testdata/sf0.1 100 flagship"`
    * (set SPARK_DRIVER_MEM=48g for 100×). */
  private def flagship(spark: SparkSession, dir: String, k: Int): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    val ordersK = replicate(Tables.load(spark, dir, "orders"),
      Seq("o_orderkey", "o_custkey"), k).persist(lvl)
    val liK = replicate(Tables.load(spark, dir, "lineitem"),
      Seq("l_orderkey"), k).persist(lvl)
    // salt density matters: with the 3-token shingles used by MinHash,
    // a salt token every 2 words puts one in EVERY shingle, so replica
    // signatures are fully divergent — sparser salt leaves bands whose
    // minima come from unsalted shingles colliding ACROSS replicas,
    // and the candidate set grows ~C(k,2)/doc (corpus artifact, was
    // the q64 "super-linearity" at 100×)
    val docsK = (0 until k).map { i =>
      Tables.load(spark, dir, "documents")
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L))
        .withColumn("text",
          regexp_replace(col("text"), "((\\S+\\s+){2})", s"$$1zzr$i "))
    }.reduce(_ unionByName _).persist(lvl)
    Seq(ordersK, liK, docsK).foreach(_.count()) // materialize outside timings

    val results = Seq(
      timeEntry("q36_etl") {
        // the benched pipeline minus the driver-sort edge: warehouse
        // build + broadcast FK resolution + router + star join + cube agg
        val wh = graft.etl.EsiEtl.buildWarehouse(
          graft.etl.EsiEtl.clean(Queries.q36RawFromOrders(ordersK)))
        val facts = wh.factInmigrante.withColumn("fact", lit("inmigrante"))
          .unionByName(wh.factEmigrante.withColumn("fact", lit("emigrante")))
        facts
          .join(broadcast(wh.dims("dim_transporte")), Seq("id_transporte"))
          .join(broadcast(wh.dims("dim_persona")), Seq("id_persona"))
          .join(broadcast(wh.dims("dim_fecha")), Seq("id_fecha"))
          .groupBy(col("fact"), col("mes_movi"), col("via_tran"), col("sex_migr"))
          .agg(count(lit(1)).as("cnt"))
          .count()
      },
      timeEntry("q64_dup_clusters") {
        val pairs = dedup.Dedup.nearDupPairs(docsK, "doc_id", "text",
          threshold = 0.9)
        dedup.Dedup.dupClusters(pairs).count()
      },
      timeEntry("q87_topk_bounded") {
        features.Features.topKPerGroupBounded(liK, "l_orderkey",
          struct(negate(col("l_extendedprice")).as("np"),
            col("l_linenumber").as("l_linenumber")), 2).count()
      },
      timeEntry("q11_topk_hashagg") {
        features.Features.topKPerGroupAgg(liK, "l_orderkey",
          struct(negate(col("l_extendedprice")).as("np"),
            col("l_linenumber").as("l_linenumber")), 2).count()
      },
      timeEntry("q91_cdc_merge") {
        val base = ordersK.select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), year(col("o_orderdate")).as("__y"))
        val snapshot = base.filter(col("__y") < 1995).drop("__y")
        val changes = base.filter(col("__y") >= 1995).drop("__y")
          .withColumn("op",
            when(col("o_orderkey") % 10 === 0, lit("D")).otherwise(lit("U")))
          .withColumn("seq", col("o_orderkey"))
        operators.Merge.applyChanges(snapshot, changes,
          keyCols = Seq("o_orderkey"), opCol = "op", seqCol = "seq").count()
      })

    report(k, results)
  }

  /** Round-10: the signature-store FETCH path vs the lazy semi-join
    * plan at the ingest stream's steady-state scale. Stored side =
    * signatures of k salted replicas, written in BOTH layouts: plain
    * parquet (the pre-r10 `_sig` shape — no bloom, unsorted) and the
    * `Dedup.writeSignatures` store layout (bloom on id, id-sorted row
    * groups). One batch carrying replica-3's salt (every batch doc
    * exact-matches its stored replica-3 twin and is a mere LSH
    * candidate elsewhere) cross-dedups against each store via the
    * lazy plan and the fetched pushdown plan — min-of-3 wall, after
    * one warm-up scan per store so all modes are measured against a
    * warm page cache (the comparison is decode work saved by
    * row-group skipping, not cold IO; TaskMetrics input bytes read 0
    * for these `file://` scans, so decode work is evidenced by the
    * fetch scan's numOutputRows entries instead). The four modes must
    * agree on the matched-pair count: fetched_plain isolates the PLAN
    * change (pushdown without the layout's indexes — bloom absent,
    * min/max useless), fetched_store adds the layout, which is where
    * the decoded rows collapse to O(candidates). */
  private def sigFetchProbes(spark: SparkSession, dir: String,
      k: Int): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val plainDir = tmp("sigprobe_plain")
    val storeDir = tmp("sigprobe_store")
    try {
      val docsK = replicateTextSalted(Tables.load(spark, dir, "documents")
        .select("doc_id", "text"), k)
      dedup.Dedup.nearDupSignatures(docsK, "doc_id", "text")
        .write.mode("overwrite").parquet(plainDir)
      // size files the way compactSink does (128 MB targets), so the
      // store is the folded-generation layout, not a 32-way shard of
      // a batch-sized write
      val plainPath = new org.apache.hadoop.fs.Path(plainDir)
      val plainBytes = plainPath.getFileSystem(
        spark.sessionState.newHadoopConf())
        .getContentSummary(plainPath).getLength
      val nFiles = math.max(1L,
        (plainBytes + (128L << 20) - 1) / (128L << 20)).toInt
      dedup.Dedup.writeSignatures(spark.read.parquet(plainDir), storeDir,
        nFiles)
      val batch = Tables.load(spark, dir, "documents")
        .select("doc_id", "text").limit(2000)
        .withColumn("doc_id", col("doc_id") + lit(7700000000L))
        .withColumn("text", regexp_replace(col("text"),
          "((\\S+\\s+){2})", "$1zzr3 ")).persist(lvl)
      batch.count()
      val storedDocs = spark.read.parquet(plainDir).count()
      val fsConf = spark.sessionState.newHadoopConf()
      def diskMb(d: String): Long = {
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(fsConf).getContentSummary(p).getLength / (1024 * 1024)
      }
      // warm the page cache over both stores so shot 1 of mode 1
      // doesn't pay the only cold read (TaskMetrics input bytes read 0
      // for these file:// scans — decode work is evidenced by the scan
      // node's numOutputRows below, not by a byte counter)
      Seq(plainDir, storeDir).foreach { d =>
        spark.read.parquet(d).agg(sum(size(col("sh")))).collect()
      }
      println(s"[probe-entry] store sizes: plain=${diskMb(plainDir)}MB, " +
        s"store=${diskMb(storeDir)}MB")
      // decode-work evidence: rows the sh-face scan DECODES for a
      // 2000-id fetch (the batch docs' stored replica-3 twins) — on
      // the plain layout random id spread defeats row-group stats; on
      // the store layout bloom + sorted min/max skip everything else
      val twinIds = batch.select((col("doc_id") - lit(7700000000L)
        + lit(300000000L)).as("id")).collect().map(_.getLong(0)).toSeq
      Seq("plain" -> plainDir, "store" -> storeDir).foreach { case (n, d) =>
        val q = spark.read.parquet(d)
          .filter(col("id").isin(twinIds: _*)).select("id", "sh")
        val hit = q.collect().length
        val decoded = q.queryExecution.executedPlan.collectLeaves()
          .head.metrics("numOutputRows").value
        println(s"""[probe-entry] "fetch_scan_$n":{"fetch_ids":${twinIds.length},""" +
          s""""hit":$hit,"rows_decoded":$decoded,"rows_stored":$storedDocs}""")
      }
      def mode(name: String, store: String,
          f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
          : (String, Long) = {
        val shots = (1 to 3).map { _ =>
          val s = System.nanoTime()
          val n = f(spark.read.parquet(store)).count()
          ((System.nanoTime() - s) / 1e9, n)
        }
        val frag = f""""$name":{"sec":${shots.map(_._1).min}%.2f,""" +
          shots.map(s => f"${s._1}%.2f").mkString(""""shots":[""", ",", "],") +
          s""""pairs":${shots.head._2}}"""
        println(s"[probe-entry] $frag")
        (frag, shots.head._2)
      }
      // the indexed candidate face: the BandIndex build is a FOLD-EPOCH
      // cost (paid once per immutable store snapshot, amortized over
      // compactEvery batches), so it is timed separately and the
      // per-shot measurements probe the BUILT index — the ingest
      // steady-state shape
      val tIdx = System.nanoTime()
      val bandIdx = dedup.BandIndex.build(spark.read.parquet(storeDir))
      val idxBuildSec = (System.nanoTime() - tIdx) / 1e9
      println(f"""[probe-entry] "index_build":{"sec":$idxBuildSec%.2f,""" +
        s""""rows":${bandIdx.indexedRows}}""")
      val results = Seq(
        mode("semi_plain", plainDir, sigs =>
          dedup.Dedup.crossNearDupPairsVsSignatures(batch, "doc_id", "text",
            sigs, 0.9, smallRelationBytes = 0L)),
        mode("fetched_plain", plainDir, sigs =>
          dedup.Dedup.crossNearDupPairsVsSignaturesFetched(batch, "doc_id", "text",
            sigs, 0.9, smallRelationBytes = 0L)),
        mode("semi_store", storeDir, sigs =>
          dedup.Dedup.crossNearDupPairsVsSignatures(batch, "doc_id", "text",
            sigs, 0.9, smallRelationBytes = 0L)),
        mode("fetched_store", storeDir, sigs =>
          dedup.Dedup.crossNearDupPairsVsSignaturesFetched(batch, "doc_id", "text",
            sigs, 0.9, smallRelationBytes = 0L)),
        mode("indexed_store", storeDir, sigs =>
          dedup.Dedup.crossNearDupPairsVsSignaturesIndexed(batch, "doc_id",
            "text", sigs, bandIdx, None, 0.9, smallRelationBytes = 0L)))
      bandIdx.unpersist()
      val counts = results.map(_._2).distinct
      println(results.map(_._1).mkString("[probe] {", ",",
        f""","index_build_sec":$idxBuildSec%.2f""" +
          s""","pair_counts_agree":${counts.size == 1},""" +
          s""""stored_docs":$storedDocs,"replication":$k}"""))
    } finally Seq(plainDir, storeDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  /** Aggregate-navigation probe: a k×1M-row synthetic fact (dims wide
    * enough that grains stay dim-sized), then the four costs that
    * justify agg tables — registration (offline), a routed drill vs
    * the direct fact aggregate (the serving win), and an incremental
    * 1M-row refresh vs a full rebuild (the maintenance win). The
    * routed/direct results are compared for equality in the same shot
    * so the speedup is never of a wrong answer. */
  private def aggNavProbes(spark: SparkSession, dir: String, k: Int): Unit = {
    import graft.olap.AggNavigator
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val rows = k.toLong * 1000000L
    def synth(n: Long, offset: Long): DataFrame =
      spark.range(offset, offset + n).selectExpr(
        "cast(1990 + id % 8 as int) as y",
        "cast(1 + (id / 8) % 12 as int) as m",
        "case cast(id % 3 as int) when 0 then 'O' when 1 then 'F' " +
          "else 'P' end as status",
        "concat('p-', cast(id % 5 as string)) as prio",
        "cast(id % 100000 as double) / 100.0 as price")
    val factPath = tmp("aggnav_fact")
    synth(rows, 0L).write.mode("overwrite").parquet(factPath)
    def fact = spark.read.parquet(factPath)
    val measures = Seq[AggNavigator.Measure](
      AggNavigator.CountAll("n"),
      AggNavigator.ExactAvg("avg_price", "price"),
      AggNavigator.ExactSum("revenue", "price"))
    val grains = Seq("ym" -> Seq("y", "m"), "yearly" -> Seq("y"),
      "status_prio" -> Seq("status", "prio"))
    var t0 = System.nanoTime()
    val reg = AggNavigator.register(fact, grains, measures, tmp("aggnav_aggs"))
    val registerSec = (System.nanoTime() - t0) / 1e9
    def shot(df: => DataFrame): (Double, Seq[Seq[Any]]) = {
      val s = System.nanoTime()
      val r = df.orderBy("y").collect().toSeq.map(_.toSeq)
      ((System.nanoTime() - s) / 1e9, r)
    }
    val direct = (1 to 3).map(_ => shot(fact.groupBy(col("y"))
      .agg(measures.map(_.direct).head, measures.map(_.direct).tail: _*)))
    val routed = (1 to 3).map(_ =>
      shot(AggNavigator.navigate(reg, fact, Seq("y"))))
    require(direct.head._2 == routed.head._2,
      "routed drill diverged from the direct aggregate")
    // maintenance: absorb a 1M-row append vs rebuilding everything
    val delta = synth(1000000L, rows)
    t0 = System.nanoTime()
    AggNavigator.refresh(reg, delta)
    val refreshSec = (System.nanoTime() - t0) / 1e9
    val deltaPath = tmp("aggnav_delta")
    delta.write.mode("overwrite").parquet(deltaPath)
    t0 = System.nanoTime()
    AggNavigator.register(fact.unionByName(spark.read.parquet(deltaPath)),
      grains, measures, tmp("aggnav_aggs2"))
    val rebuildSec = (System.nanoTime() - t0) / 1e9
    println(f"""[probe] {"fact_rows":$rows,"register_sec":$registerSec%.2f,""" +
      f""""drill_direct_sec":${direct.map(_._1).min}%.3f,""" +
      f""""drill_routed_sec":${routed.map(_._1).min}%.3f,""" +
      f""""refresh_sec":$refreshSec%.2f,"rebuild_sec":$rebuildSec%.2f,""" +
      s""""agg_rows":${reg.aggs.map(a => s""""${a.name}":${a.rows}""")
        .mkString("{", ",", "}")},"replication":$k}""")
  }

  /** Round-14 probe: (a) shared-scan registration vs per-grain at
    * N=5 grains on a k×1M synthetic fact — the saving should approach
    * (N−1)/N of the registration's scan cost as the fact grows; (b)
    * cross-cube drill-across at a covered grain, direct (two fact
    * scans) vs navigated (two dim-sized parquet reads) — the
    * virtual-cube serving claim, priced. */
  private def r14Probes(spark: SparkSession, dir: String, k: Int): Unit = {
    import graft.olap.{AggNavigator, DrillAcross}
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val rows = k.toLong * 1000000L
    def synth(n: Long, offset: Long): DataFrame =
      spark.range(offset, offset + n).selectExpr(
        "cast(1990 + id % 8 as int) as y",
        "cast(1 + (id / 8) % 12 as int) as m",
        "case cast(id % 3 as int) when 0 then 'O' when 1 then 'F' " +
          "else 'P' end as status",
        "concat('p-', cast(id % 5 as string)) as prio",
        "cast(id % 100000 as double) / 100.0 as price")
    val factPath = tmp("r14_fact")
    synth(rows, 0L).write.mode("overwrite").parquet(factPath)
    def fact = spark.read.parquet(factPath)
    val measures = Seq[AggNavigator.Measure](
      AggNavigator.CountAll("n"),
      AggNavigator.ExactAvg("avg_price", "price"),
      AggNavigator.ExactSum("revenue", "price"))
    val grains = Seq("ym" -> Seq("y", "m"), "yearly" -> Seq("y"),
      "status_prio" -> Seq("status", "prio"),
      "y_status" -> Seq("y", "status"), "prio" -> Seq("prio"))
    // untimed full-column warm read: the first timed path would
    // otherwise pay the page-cache first touch the later ones skip —
    // biasing the very ratio this probe prices. Then min-of-2 per
    // path in ALTERNATING order: this host shows 3-4x co-tenant
    // bursts on single-shot timings, and min-of-N with interleaving
    // is the same estimator the bench uses.
    fact.write.format("noop").mode("overwrite").save()
    def timed(f: => AggNavigator.Registry): (Double, AggNavigator.Registry) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val runs = (1 to 2).map { _ =>
      (timed(AggNavigator.register(fact, grains, measures, tmp("r14_sep"))),
        timed(AggNavigator.registerShared(fact, grains, measures,
          tmp("r14_shared"))))
    }
    val sepSec = runs.map(_._1._1).min
    val sharedSec = runs.map(_._2._1).min
    val regSep = runs.head._1._2
    val regShared = runs.head._2._2
    require(regSep.aggs.map(a => (a.name, a.rows)) ==
      regShared.aggs.map(a => (a.name, a.rows)),
      "shared build diverged from the per-grain build")
    // cross-cube side: a second fact at the same conformed grain
    val factBPath = tmp("r14_factb")
    synth(rows, rows).write.mode("overwrite").parquet(factBPath)
    def factB = spark.read.parquet(factBPath)
    val measuresB = Seq[AggNavigator.Measure](
      AggNavigator.CountAll("nb"),
      AggNavigator.ExactSum("rev_b", "price"))
    val regB = AggNavigator.registerShared(factB,
      Seq("ym" -> Seq("y", "m")), measuresB, tmp("r14_aggb"))
    def shot(df: => DataFrame): (Double, Seq[Seq[Any]]) = {
      val s = System.nanoTime()
      val r = df.orderBy("y", "m").collect().toSeq.map(_.toSeq)
      ((System.nanoTime() - s) / 1e9, r)
    }
    val direct = (1 to 3).map(_ => shot(DrillAcross.drillAcross(
      fact, measures.map(_.direct), factB, measuresB.map(_.direct),
      Seq("y", "m"))))
    val routed = (1 to 3).map(_ => shot(
      DrillAcross.navigated(regShared, fact, regB, factB, Seq("y", "m"))))
    require(direct.head._2 == routed.head._2,
      "navigated drill-across diverged from the direct merge")
    println(f"""[probe] {"fact_rows":$rows,"grains":${grains.size},""" +
      f""""register_pergrain_sec":$sepSec%.2f,""" +
      f""""register_shared_sec":$sharedSec%.2f,""" +
      f""""drillacross_direct_sec":${direct.map(_._1).min}%.3f,""" +
      f""""drillacross_navigated_sec":${routed.map(_._1).min}%.3f,""" +
      s""""replication":$k}""")
  }

  /** Round-15 probe, min-of-2 alternating order (the r14 estimator):
    * (a) incremental closure maintenance vs a full rebuild on a
    * k×100k-node digit tree — the move touches subtree × ancestors
    * pairs, the rebuild re-runs every doubling round, so the gap
    * should WIDEN with the corpus; (b) the budget advisor's greedy
    * selection layer beside plain advise — same single grouping-sets
    * fact pass on a k×1M fact, the driver-side knapsack must price at
    * ~zero; (c) the refresh-isolation ladder at c=3 changed keys on a
    * k×1M-row view, B=64: dynamic overwrite vs per-bucket rename swap
    * vs snapshot generations — the three isolation levels should cost
    * within noise of each other (all write the same ~3 buckets; the
    * swap/manifest overhead is metadata). */
  private def r15Probes(spark: SparkSession, dir: String, k: Int): Unit = {
    import graft.operators.Hierarchy
    import graft.olap.AggNavigator
    import graft.etl.ViewRefresh
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    // ----- (a) closure: incremental move vs full rebuild -----
    val nNodes = k.toLong * 100000L
    val nodesPath = tmp("r15_nodes")
    spark.range(1L, nNodes + 1L).selectExpr("id as node",
      "case when id >= 10 then id div 10 end as parent")
      .write.mode("overwrite").parquet(nodesPath)
    def nodes = spark.read.parquet(nodesPath)
    def movedNodes = nodes.withColumn("parent",
      when(col("node") === 7L, lit(123L)).otherwise(col("parent")))
    var t0 = System.nanoTime()
    val clPath = tmp("r15_cl")
    Hierarchy.closure(nodes, "node", "parent")
      .write.mode("overwrite").parquet(clPath)
    val closureBuildSec = secs(t0)
    def clStored = spark.read.parquet(clPath)
    val pairCount = clStored.count()
    // min-of-2, alternating: incremental move vs full rebuild (both
    // forced by count — serve-time cost, no write skew)
    val moveRuns = (1 to 2).map { _ =>
      val tA = System.nanoTime()
      val mc = Hierarchy.closureMove(clStored, 7L, 123L).count()
      val a = secs(tA)
      val tB = System.nanoTime()
      val rc = Hierarchy.closure(movedNodes, "node", "parent").count()
      val b = secs(tB)
      require(mc == rc,
        s"incremental move ($mc pairs) diverged from rebuild ($rc)")
      (a, b)
    }
    val moveSec = moveRuns.map(_._1).min
    val rebuildSec = moveRuns.map(_._2).min

    // ----- (b) advise vs adviseBudget: the greedy layer's price -----
    val factRows = k.toLong * 1000000L
    val factPath = tmp("r15_fact")
    spark.range(factRows).selectExpr(
      "cast(1990 + id % 8 as int) as y",
      "cast(1 + (id / 8) % 12 as int) as m",
      "case cast(id % 3 as int) when 0 then 'O' when 1 then 'F' " +
        "else 'P' end as status",
      "concat('p-', cast(id % 5 as string)) as prio")
      .write.mode("overwrite").parquet(factPath)
    def fact = spark.read.parquet(factPath)
    fact.write.format("noop").mode("overwrite").save()
    val candidates = Seq("ym" -> Seq("y", "m"), "yearly" -> Seq("y"),
      "status_prio" -> Seq("status", "prio"),
      "y_status" -> Seq("y", "status"),
      "all4" -> Seq("y", "m", "status", "prio"))
    val workload = Seq(Seq("y"), Seq("y", "m"), Seq("m"), Seq("status"),
      Seq("prio"), Seq("y", "status"), Seq("status", "prio"),
      Seq("y", "m", "status"))
    val adviseRuns = (1 to 2).map { _ =>
      val tA = System.nanoTime()
      AggNavigator.advise(fact, candidates, workload).collect()
      val a = secs(tA)
      val tB = System.nanoTime()
      AggNavigator.adviseBudget(fact, candidates, workload, 200L).collect()
      val b = secs(tB)
      (a, b)
    }
    val adviseSec = adviseRuns.map(_._1).min
    val adviseBudgetSec = adviseRuns.map(_._2).min

    // ----- (c) the refresh-isolation ladder at c=3 -----
    val b = 64
    val dimPath = tmp("r15_dim")
    spark.range(100000L).selectExpr("id as k",
      "concat('seg-', cast(id % 5 as string)) as seg")
      .write.mode("overwrite").parquet(dimPath)
    val vFactPath = tmp("r15_vfact")
    spark.range(factRows).selectExpr("id % 100000 as k",
      "cast(id % 9973 as double) / 100.0 as amount")
      .write.mode("overwrite").parquet(vFactPath)
    def dim = spark.read.parquet(dimPath)
    def vfact = spark.read.parquet(vFactPath)
    def view(d: DataFrame): DataFrame = vfact.join(broadcast(d), Seq("k"))
    val updated = dim.withColumn("seg",
      when(col("k") < 3L, lit("UPDATED")).otherwise(col("seg")))
    val buckets = ViewRefresh.affectedBuckets(
      dim.filter(col("k") < 3L).select(col("k")), col("k"), b)
    val pathDyn = tmp("r15_vdyn") + "/view"
    val pathIso = tmp("r15_viso") + "/view"
    val pathSnap = tmp("r15_vsnap") + "/view"
    ViewRefresh.materialize(view(dim), col("k"), b, pathDyn)
    ViewRefresh.materialize(view(dim), col("k"), b, pathIso)
    ViewRefresh.materializeSnapshot(view(dim), col("k"), b, pathSnap)
    val ladder = (1 to 2).map { _ =>
      val tA = System.nanoTime()
      ViewRefresh.refresh(view(updated), col("k"), b, buckets, pathDyn)
      val a = secs(tA)
      val tB = System.nanoTime()
      ViewRefresh.refresh(view(updated), col("k"), b, buckets, pathIso,
        isolated = true)
      val bS = secs(tB)
      val tC = System.nanoTime()
      ViewRefresh.refreshSnapshot(view(updated), col("k"), b, buckets,
        pathSnap)
      val c = secs(tC)
      (a, bS, c)
    }
    println(f"""[probe] {"closure_nodes":$nNodes,"closure_pairs":$pairCount,""" +
      f""""closure_build_sec":$closureBuildSec%.2f,""" +
      f""""closure_move_sec":$moveSec%.2f,""" +
      f""""closure_rebuild_sec":$rebuildSec%.2f,""" +
      f""""fact_rows":$factRows,""" +
      f""""advise_sec":$adviseSec%.2f,""" +
      f""""advise_budget_sec":$adviseBudgetSec%.2f,""" +
      f""""refresh_buckets":${buckets.size},""" +
      f""""refresh_dynamic_sec":${ladder.map(_._1).min}%.2f,""" +
      f""""refresh_isolated_sec":${ladder.map(_._2).min}%.2f,""" +
      f""""refresh_snapshot_sec":${ladder.map(_._3).min}%.2f,""" +
      s""""replication":$k}""")
  }

  /** View-refresh probe: prices the write-amplification claim on a
    * k×1M-row denormalized view over a 100k-key dim at B=64 buckets —
    * full materialize vs partition-scoped refresh at c=3 (the
    * fix-one-customer case) and c=1000 (bulk delta, most buckets
    * touched, should approach the rewrite). */
  private def viewRefreshProbes(spark: SparkSession, dir: String,
      k: Int): Unit = {
    import graft.etl.ViewRefresh
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val rows = k.toLong * 1000000L
    val b = 64
    val dimPath = tmp("vr_dim")
    spark.range(100000L).selectExpr("id as k",
      "concat('seg-', cast(id % 5 as string)) as seg")
      .write.mode("overwrite").parquet(dimPath)
    val factPath = tmp("vr_fact")
    spark.range(rows).selectExpr("id % 100000 as k",
      "cast(id % 9973 as double) / 100.0 as amount")
      .write.mode("overwrite").parquet(factPath)
    def dim = spark.read.parquet(dimPath)
    def fact = spark.read.parquet(factPath)
    def view(d: DataFrame): DataFrame = fact.join(broadcast(d), Seq("k"))
    val path = tmp("vr_view") + "/view"
    var t0 = System.nanoTime()
    ViewRefresh.materialize(view(dim), col("k"), b, path)
    val materializeSec = (System.nanoTime() - t0) / 1e9
    val results = Seq(3L, 1000L).map { c =>
      val updated = dim.withColumn("seg",
        when(col("k") < c, lit("UPDATED")).otherwise(col("seg")))
      val changed = dim.filter(col("k") < c).select(col("k"))
      val buckets = ViewRefresh.affectedBuckets(changed, col("k"), b)
      t0 = System.nanoTime()
      ViewRefresh.refresh(view(updated), col("k"), b, buckets, path)
      val sec = (System.nanoTime() - t0) / 1e9
      f""""c$c":{"buckets":${buckets.size},"refresh_sec":$sec%.2f}"""
    }
    println(results.mkString(
      f"""[probe] {"fact_rows":$rows,"n_buckets":$b,""" +
        f""""materialize_sec":$materializeSec%.2f,""",
      ",", s""","replication":$k}"""))
  }

  /** Round-13 probes — the indexed ingest path's three open scale
    * questions, measured:
    *
    * (a) PARTITION SWEEP: per-batch indexed cross-dedup wall as the
    * index's partition count grows. Each partition hash-screens the
    * key array (~ns/key, no array access) and searches only its own
    * ~K/P keys; claim: the wall stays flat as P grows.
    *
    * (b) RESTART REBUILD: `BandIndex.build` wall over the full store —
    * the cold-start a restarted sink pays per generation before its
    * first batch (the index is deliberately rebuildable state, so a
    * restart re-pays one fold-epoch build; this prices it).
    *
    * (c) REPLAY STABILITY: 40 at-least-once replays of ONE committed
    * batch against a compacted, index-forced sink. The corpus and the
    * index are CONSTANT across replays (a replayed batch excludes its
    * own partition), so storage memory and the persisted-RDD count
    * must stay FLAT — any climb is per-batch leaked state. The
    * pre-r13 lookup broadcasts leaked exactly here, one pair per
    * replayed/normal batch. */
  private def r13Probes(spark: SparkSession, dir: String, k: Int): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val storeDir = tmp("r13_store")
    val sinkBase = tmp("r13_sink")
    try {
      val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
      val sigs = dedup.Dedup.nearDupSignatures(
        replicateTextSalted(docs, k), "doc_id", "text")
      val tmpPlain = tmp("r13_plain")
      sigs.write.mode("overwrite").parquet(tmpPlain)
      val plainPath = new org.apache.hadoop.fs.Path(tmpPlain)
      val fsConf = spark.sessionState.newHadoopConf()
      val plainBytes = plainPath.getFileSystem(fsConf)
        .getContentSummary(plainPath).getLength
      val nFiles = math.max(1L,
        (plainBytes + (128L << 20) - 1) / (128L << 20)).toInt
      dedup.Dedup.writeSignatures(spark.read.parquet(tmpPlain), storeDir,
        nFiles)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(tmpPlain))
      val stored = spark.read.parquet(storeDir)
      val storedDocs = stored.count()
      val batch = docs.limit(2000)
        .withColumn("doc_id", col("doc_id") + lit(7700000000L))
        .withColumn("text", regexp_replace(col("text"),
          "((\\S+\\s+){2})", "$1zzr3 ")).persist(lvl)
      batch.count()
      // (b) restart rebuild at the store's stats-sized partitioning
      val t0 = System.nanoTime()
      val idx0 = dedup.BandIndex.build(stored)
      val rebuildSec = (System.nanoTime() - t0) / 1e9
      val idxRows = idx0.indexedRows
      idx0.unpersist()
      // (a) the partition-count sweep
      val sweep = Seq(1, 8, 32, 128).map { p =>
        val idx = dedup.BandIndex.build(stored, numParts = p)
        val shots = (1 to 3).map { _ =>
          val s = System.nanoTime()
          val n = dedup.Dedup.crossNearDupPairsVsSignaturesIndexed(batch,
            "doc_id", "text", stored, idx, None, 0.9,
            smallRelationBytes = 0L).count()
          ((System.nanoTime() - s) / 1e9, n)
        }
        idx.unpersist()
        f""""p$p":{"pruned_sec":${shots.map(_._1).min}%.2f,""" +
          s""""pairs":${shots.head._2}}"""
      }
      println(sweep.mkString("""[probe] {"prune_sweep":{""", ",",
        f"""},"rebuild_sec":$rebuildSec%.2f,"index_rows":$idxRows,""" +
          s""""stored_docs":$storedDocs,"replication":$k}"""))
      // (c) replay stability: 8 committed waves fold into gen=0, one
      // more batch commits, then 40 replays of it — constant corpus,
      // constant index, so memory must be flat
      val sink = s"$sinkBase/accepted"
      val name = "r13_replay"
      (0 until 8).foreach { i =>
        val wave = docs
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L))
          .withColumn("text", regexp_replace(col("text"),
            "((\\S+\\s+){2})", s"$$1zzw$i "))
        streaming.DocStream.processBatch(spark, wave, i.toLong, "doc_id",
          "text", 0.9, sink, name, compactEvery = 8, bandIndexBytes = 0L,
          bandIndexMaxBytes = Long.MaxValue)
      }
      streaming.DocStream.processBatch(spark, batch, 8L, "doc_id",
        "text", 0.9, sink, name, compactEvery = 8, bandIndexBytes = 0L,
          bandIndexMaxBytes = Long.MaxValue)
      val fs = new org.apache.hadoop.fs.Path(sink).getFileSystem(fsConf)
      def usedStorageMb(): Long =
        spark.sparkContext.getExecutorMemoryStatus.values
          .map { case (max, rem) => max - rem }.sum / (1024 * 1024)
      val samples = (1 to 40).map { _ =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$sink/_applied/$name/8"), false)
        streaming.DocStream.processBatch(spark, batch, 8L, "doc_id",
          "text", 0.9, sink, name, compactEvery = 8, bandIndexBytes = 0L,
          bandIndexMaxBytes = Long.MaxValue)
        (usedStorageMb(), spark.sparkContext.getPersistentRDDs.size)
      }
      streaming.DocStream.invalidateIndex(sink)
      val mem = samples.map(_._1)
      val rdds = samples.map(_._2)
      val firstQ = mem.take(10).sum / 10.0
      val lastQ = mem.takeRight(10).sum / 10.0
      println(s"""[probe] {"replay_stability":{""" +
        s""""storage_mb":${mem.mkString("[", ",", "]")},""" +
        s""""persistent_rdds":${rdds.mkString("[", ",", "]")},""" +
        f""""first10_avg_mb":$firstQ%.1f,"last10_avg_mb":$lastQ%.1f,""" +
        f""""drift":${lastQ / math.max(firstQ, 1.0)}%.3f}}""")
    } finally {
      streaming.DocStream.invalidateIndex(s"$sinkBase/accepted")
      Seq(storeDir, sinkBase).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    }
  }

  /** The LOOKUP-ONLY face of the r13 pruning sweep: the full-plan
    * sweep buries the lookup under the batch's own shingle/verify
    * work (a 2000-doc batch's 16k keys cost ms either way), so this
    * isolates `BandIndex.lookup` itself at the cap-scale key set —
    * `MaxLookupKeys`-sized probes (a ~250k-doc mega-batch), ~7/8
    * misses (keys drawn from the store's buckets with most bands
    * perturbed) — across partition counts; the wall should stay flat
    * as P grows. */
  private def r13LookupProbes(spark: SparkSession, dir: String,
      k: Int): Unit = {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val storeDir = tmp("r13l_store")
    try {
      val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
      dedup.Dedup.nearDupSignatures(replicateTextSalted(docs, k),
        "doc_id", "text").write.mode("overwrite").parquet(storeDir)
      val stored = spark.read.parquet(storeDir)
      val storedDocs = stored.count()
      // price the ceiling gate's estimate: actual persisted index
      // bytes (block-manager truth) vs the projected (id, bands) face
      // stats the gate multiplies by BandIndexBytesPerFaceStatByte
      val sizeIdx = dedup.BandIndex.build(stored)
      val faceStats = stored.select(col("id"), col("bands"))
        .queryExecution.optimizedPlan.stats.sizeInBytes
      val info = spark.sparkContext.getRDDStorageInfo
        .find(_.id == sizeIdx.rddId)
      val memB = info.map(_.memSize).getOrElse(-1L)
      val diskB = info.map(_.diskSize).getOrElse(-1L)
      println(f"""[probe-entry] "index_size":{"mem_bytes":$memB,""" +
        s""""disk_bytes":$diskB,"face_stats_bytes":$faceStats,""" +
        f""""ratio":${memB.toDouble / faceStats.toDouble}%.3f,""" +
        s""""rows":${sizeIdx.indexedRows}}""")
      sizeIdx.unpersist()
      // cap-scale key set from the store's own face: band 0 keys kept
      // as hits, bands 1..7 bucket-perturbed into (near-certain)
      // misses — uniform 64-bit buckets make collisions negligible,
      // so ~1/8 of probes hit, the ingest steady-state shape
      val keys = stored
        .select(posexplode(col("bands")).as(Seq("band", "bucket")))
        .select(col("band"),
          when(col("band") === 0, col("bucket"))
            .otherwise(xxhash64(col("bucket"), col("band"))).as("bucket"))
        .distinct()
        .limit(dedup.Dedup.MaxLookupKeys)
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      val sweep = Seq(1, 8, 32, 128).map { p =>
        val idx = dedup.BandIndex.build(stored, numParts = p)
        val shots = (1 to 3).map { _ =>
          val s = System.nanoTime()
          val n = idx.lookup(spark, keys).count()
          ((System.nanoTime() - s) / 1e9, n)
        }
        idx.unpersist()
        f""""p$p":{"pruned_sec":${shots.map(_._1).min}%.2f,""" +
          s""""rows":${shots.head._2}}"""
      }
      println(sweep.mkString("""[probe] {"lookup_sweep":{""", ",",
        s"""},"keys":${keys.length},"stored_docs":$storedDocs,""" +
          s""""replication":$k}"""))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(storeDir))
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
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val fsConf = spark.sessionState.newHadoopConf()
    val times = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        times.synchronized {
          times += ((e.progress.batchId,
            e.progress.durationMs.get("triggerExecution").toDouble / 1000.0))
        }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    def tmp(prefix: String): String =
      java.nio.file.Files.createTempDirectory(prefix).toString
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "lang", "n_chars")
    val src = tmp("probe_dsc_src")
    val sink = tmp("probe_dsc_sink") + "/accepted"
    val cp = tmp("probe_dsc_cp")
    val stamped = scala.collection.mutable.Set[String]()
    val p = new org.apache.hadoop.fs.Path(src)
    val fs = p.getFileSystem(fsConf)
    (0 until k).foreach { i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L))
        .withColumn("text",
          regexp_replace(col("text"), "((\\S+\\s+){2})", s"$$1zzr$i "))
        .coalesce(1).write.mode("append").parquet(src)
      fs.listStatus(p)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .foreach(s => if (stamped.add(s.getPath.getName))
          fs.setTimes(s.getPath, 1600000000000L + i * 1000L, -1))
    }
    streaming.DocStream.nearDupIngestStream(spark, src, docs,
      "doc_id", "text", 0.9, sink, "probe_dsc", Some(cp),
      maxFilesPerTrigger = Some(1), compactEvery = 8).awaitTermination()
    val accepted = streaming.DocStream.accepted(spark, sink, docs).count()
    val sinkPath = new org.apache.hadoop.fs.Path(sink)
    val liveDirs = fs.listStatus(sinkPath).filter(_.isDirectory)
      .map(_.getPath.getName)
      .count(n => n.startsWith("batch_id=") || n.startsWith("gen="))
    // drain the async listener bus so every progress event has landed
    org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark.sparkContext)
    spark.streams.removeListener(listener)
    val ts = times.synchronized { times.toSeq }.sortBy(_._1).map(_._2)
    val third = math.max(ts.length / 3, 1)
    val mid = ts.slice(third, 2 * third)
    val flat = if (mid.isEmpty || mid.sum == 0) -1.0
      else ts.takeRight(third).sum / third / (mid.sum / mid.length)
    val arr = ts.map(t => f"$t%.2f").mkString("[", ",", "]")
    println(f"""[probe] {"near_dup_ingest_compacting":{"batches":$arr,"flatness":$flat%.2f},"live_dirs":$liveDirs,"accepted":$accepted,"replication":$k}""")
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
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val fsConf = spark.sessionState.newHadoopConf()
    val times = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        times.synchronized {
          times += ((e.progress.batchId,
            e.progress.durationMs.get("triggerExecution").toDouble / 1000.0))
        }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    def tmp(prefix: String): String =
      java.nio.file.Files.createTempDirectory(prefix).toString
    val ev = Tables.events(spark, dir)
      .select("event_id", "user_id", "ts", "event_type", "value")
    val right = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("err_id"),
        max_by(col("value"), col("event_id")).as("err_value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    right.count()
    val src = tmp("probe_evc_src")
    val sink = tmp("probe_evc_sink") + "/enriched"
    val cp = tmp("probe_evc_cp")
    val stamped = scala.collection.mutable.Set[String]()
    val p = new org.apache.hadoop.fs.Path(src)
    val fs = p.getFileSystem(fsConf)
    (0 until k).foreach { i =>
      ev.withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L))
        .coalesce(1).write.mode("append").parquet(src)
      fs.listStatus(p)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .foreach(s => if (stamped.add(s.getPath.getName))
          fs.setTimes(s.getPath, 1600000000000L + i * 1000L, -1))
    }
    streaming.EventStream.asOfEnrichForeachBatch(spark, src, ev, right,
      "user_id", "ts", Seq("err_id", "err_value"), "err_id", sink, cp,
      compactEvery = 8, maxFilesPerTrigger = Some(1)).awaitTermination()
    val enrichedSchema = graft.operators.AsOfJoin.asOf(ev, right,
      "user_id", "ts", Seq("err_id", "err_value"), "err_id")
    val rows = streaming.EventStream.enriched(spark, sink, enrichedSchema)
      .count()
    val sinkPath = new org.apache.hadoop.fs.Path(sink)
    val liveDirs = fs.listStatus(sinkPath).filter(_.isDirectory)
      .map(_.getPath.getName)
      .count(n => n.startsWith("batch_id=") || n.startsWith("gen="))
    // drain the async listener bus so every progress event has landed
    org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark.sparkContext)
    spark.streams.removeListener(listener)
    val ts = times.synchronized { times.toSeq }.sortBy(_._1).map(_._2)
    val third = math.max(ts.length / 3, 1)
    val mid = ts.slice(third, 2 * third)
    val flat = if (mid.isEmpty || mid.sum == 0) -1.0
      else ts.takeRight(third).sum / third / (mid.sum / mid.length)
    val arr = ts.map(t => f"$t%.2f").mkString("[", ",", "]")
    println(f"""[probe] {"asof_enrich_compacting":{"batches":$arr,"flatness":$flat%.2f},"live_dirs":$liveDirs,"rows":$rows,"replication":$k}""")
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
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val fsConf = spark.sessionState.newHadoopConf()
    val times =
      scala.collection.mutable.ArrayBuffer[(String, Long, Double)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        times.synchronized {
          times += ((e.progress.name, e.progress.batchId,
            e.progress.durationMs.get("triggerExecution").toDouble / 1000.0))
        }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    def tmp(prefix: String): String =
      java.nio.file.Files.createTempDirectory(prefix).toString
    // explicit mod-time stamps fix batch arrival order (the q184 idiom)
    def stampWave(dirPath: String, wave: Int,
        stamped: scala.collection.mutable.Set[String]): Unit = {
      val p = new org.apache.hadoop.fs.Path(dirPath)
      val fs = p.getFileSystem(fsConf)
      fs.listStatus(p)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .foreach(s => if (stamped.add(s.getPath.getName))
          fs.setTimes(s.getPath, 1600000000000L + wave * 1000L, -1))
    }

    // --- near-dup ingest: the O(accepted) catcher ---------------------
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "lang", "n_chars")
    val dsSrc = tmp("probe_docstream_src")
    val dsSink = tmp("probe_docstream_sink") + "/accepted"
    val dsCp = tmp("probe_docstream_cp")
    val dsStamped = scala.collection.mutable.Set[String]()
    (0 until k).foreach { i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L))
        .withColumn("text",
          regexp_replace(col("text"), "((\\S+\\s+){2})", s"$$1zzr$i "))
        .coalesce(1).write.mode("append").parquet(dsSrc)
      stampWave(dsSrc, i, dsStamped)
    }
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
    val scdSrc = tmp("probe_scd_src")
    val scdStamped = scala.collection.mutable.Set[String]()
    (0 until k).foreach { i =>
      facts.withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 100000000L))
        .coalesce(1).write.mode("append").parquet(scdSrc)
      stampWave(scdSrc, i, scdStamped)
    }
    streaming.EventStream.scdEnrichStream(spark, scdSrc, facts, scdDim,
      key = "o_custkey", ts = "ts", attrs = Seq("state", "version"),
      queryName = "probe_scd",
      maxFilesPerTrigger = Some(1)).awaitTermination()

    // --- stateful sketch aggregation (heavy hitters) ------------------
    val hhFacts = ordSrc.select(col("o_orderkey"),
      col("o_orderpriority").as("grp"), (col("o_custkey") % 1000).as("item"))
    val hhSrc = tmp("probe_hh_src")
    val hhStamped = scala.collection.mutable.Set[String]()
    (0 until k).foreach { i =>
      hhFacts.withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 100000000L))
        .coalesce(1).write.mode("append").parquet(hhSrc)
      stampWave(hhSrc, i, hhStamped)
    }
    streaming.EventStream.heavyHittersStream(spark, hhSrc, hhFacts,
      groupCol = "grp", itemCol = "item", capacity = 32,
      queryName = "probe_hh",
      maxFilesPerTrigger = Some(1)).awaitTermination()

    // drain the async listener bus so every progress event has landed
    org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark.sparkContext)
    spark.streams.removeListener(listener)
    val byName = times.synchronized { times.toSeq }
      .groupBy(_._1).map { case (n, ts) =>
        n -> ts.sortBy(_._2).map(_._3)
      }
    def flatness(ts: Seq[Double]): Double = {
      val third = math.max(ts.length / 3, 1)
      val mid = ts.slice(third, 2 * third)
      val last = ts.takeRight(third)
      if (mid.isEmpty || mid.sum == 0) -1.0 else last.sum / third / (mid.sum / mid.length)
    }
    val json = byName.toSeq.sortBy(_._1).map { case (n, ts) =>
      val arr = ts.map(t => f"$t%.2f").mkString("[", ",", "]")
      f""""$n":{"batches":$arr,"flatness":${flatness(ts)}%.2f}"""
    }.mkString("{", ",",
      s""","accepted":$accepted,"replication":$k}""")
    println(s"[probe] $json")
  }
}
