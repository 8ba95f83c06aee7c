package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ml.KMeansRel

/** Product quantization (Jégou, Douze, Schmid, "Product Quantization
  * for Nearest Neighbor Search", IEEE TPAMI 2011) — the memory-scale
  * path for ANN: split each d-dim vector into `m` contiguous
  * subspaces, k-means each subspace independently, and store every
  * vector as `m` small codes. A 64-dim float vector (256 B) becomes
  * m=4 bytes; a 100 TB embedding corpus scans as ~1.5 TB of codes.
  * Search is Asymmetric Distance Computation (ADC): the query stays
  * un-quantized and its distance to a code is the sum of per-subspace
  * exact distances to the code's centroid — computed here as a pure
  * codegen projection over the codes relation (centroid literals
  * constant-fold, the [[Similarity.ivfCell]] idiom), no join, no
  * shuffle until the per-query top-k.
  *
  * Determinism contract (the [[KMeansRel]] one, per subspace): seeds
  * are the k vectors with lexicographically smallest (md5(id), id) —
  * the SAME rows seed every subspace — assignment argmin uses the
  * expanded ‖c‖²−2⟨v,c⟩ form with left-to-right dot folds, means
  * accumulate in DECIMAL(38,12) and round to the 9-decimal grid. An
  * external SQL engine replays fit, encode, and ADC bit-for-bit
  * (q182's oracle replays all m sub-fits).
  *
  * Reference behavior anchor: the reference's ANN surface is a flat
  * cosine scan (`machineLearning.py` similarity paths); PQ is the
  * documented 100 TB extension alongside IVF ([[Similarity.ivfTopK]])
  * — IVF prunes WHICH vectors are scanned, PQ shrinks WHAT is
  * scanned; [[Similarity]] composes both for IVF-ADC.
  */
object Pq {

  /** Per-subspace codebooks: `books(s)(c)` is the centroid of code
    * `c` in subspace `s`, each `subDim` doubles on the 9-decimal
    * KMeansRel grid (round-0 raw seed slices excepted). Driver-side
    * model state, like [[Similarity.IvfModel]]: m×k×subDim doubles,
    * embedded into plans as constant-folding literals. */
  final case class PqModel(subDim: Int, books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
    def kCodes: Int = books.head.length
  }

  /** Fit `m` independent sub-quantizers of `kCodes` codes each with
    * `iters` Lloyd rounds. One [[KMeansRel]] fit per subspace — each
    * is one cell-aggregate shuffle per round over (id, subDim-slice)
    * projections; vectors never move whole. `dim` must divide evenly
    * into `m` subspaces. */
  def fit(vectors: DataFrame, idCol: String, vecCol: String,
      m: Int, kCodes: Int, iters: Int): PqModel = {
    // one aggregate probes the dimension AND validates the
    // uniform-dimension assumption the sub-slices depend on: a ragged
    // corpus would silently mis-slice, an empty one would throw an
    // opaque NoSuchElementException mid-plan
    val d = vectors.agg(
      min(org.apache.spark.sql.functions.size(col(vecCol))).as("dmin"),
      max(org.apache.spark.sql.functions.size(col(vecCol))).as("dmax")).head()
    require(!d.isNullAt(0),
      s"Pq.fit: no non-null '$vecCol' vectors to infer the dimension from")
    val dim = d.getInt(0)
    require(dim == d.getInt(1) && dim > 0,
      s"Pq.fit: '$vecCol' must have one uniform non-zero dimension, " +
        s"got sizes in [${d.getInt(0)}, ${d.getInt(1)}]")
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    // SHARED SEED + PAR-OVERLAPPED PER-SUBSPACE LLOYD (r17): the md5
    // seed draw orders by (md5(id), id), never by vector values, so
    // ONE full-vector TakeOrdered sliced driver-side IS each
    // subspace's seed draw (bit-identical — KMeansRelSpec pins
    // Pq.fit ≡ m independent per-slice fits); the m
    // Lloyd loops then run on narrow subDim-slice projections as
    // independent concurrent jobs (the r16 Par overlap, which hides
    // the per-action latency that dominates the fit at serving scale —
    // removing it measured q182/q185 1.25× in a paired window).
    //
    // The r16 FUSED round (one m-subspace cell aggregate per Lloyd
    // round, since deleted from the engine) was REVERTED on r17 probe
    // evidence (ScaleProbe r17, staged-parquet corpus, one JVM per
    // entry so no entry rides another's warmup): it evaluates an
    // m-wide array of assignment expressions per row — a projection
    // ~m× one subspace's, outside whole-stage codegen's comfort zone —
    // and is the slowest shape at both decades, degrading fastest
    // with data (18.7 s at k=10 → 29.1 s at k=20, vs 16.7 → 18.4 s
    // for plain per-subspace fits). The pass-count saving never
    // repays the per-row cost; the shared seed keeps the one
    // genuinely free fusion (m seed scans → 1).
    val seedsFull = KMeansRel.seedsOf(vectors, idCol, vecCol, kCodes)
    val books = graft.operators.Par.mapIndexed(0 until m) { s =>
      KMeansRel.fitCentroidsFromSeeds(
        vectors.select(col(idCol),
          slice(col(vecCol).cast("array<double>"),
            s * subDim + 1, subDim).as("__sub")),
        idCol, "__sub",
        seedsFull.map(c => c.slice(s * subDim, (s + 1) * subDim)), iters)
    }
    PqModel(subDim, books)
  }

  /** [[fit]] on an md5-deterministic SAMPLE of the corpus — the
    * production shape: codebook quality needs thousands of points per
    * code, not the full corpus, so a 100 TB deployment fits on a
    * hash-sampled fraction and encodes everything (k-means cost drops
    * from O(corpus) to O(sample) per Lloyd round; encode stays a full
    * zero-shuffle projection). The sample is the repo's portable
    * hash-threshold idiom ([[graft.features.Features.hashSample]]):
    * rows whose `md5(id)` hex prefix sorts below `hexThreshold` — a
    * pure function of the data, so any engine (and the q185 oracle)
    * re-draws the identical sample and replays the identical fit. */
  def fitSample(vectors: DataFrame, idCol: String, vecCol: String,
      m: Int, kCodes: Int, iters: Int, hexThreshold: String): PqModel =
    // Ragged-dimension safety for rows OUTSIDE the sample (fit's own
    // check only sees sampled rows) is enforced per-row inside
    // [[encode]]/[[ivfAdcIndex]] — the scans that actually slice every
    // row — not by an extra full-corpus aggregate here: a fit call
    // must cost O(sample), and encode fails loudly on the first
    // mis-sized vector it would otherwise mis-slice.
    fit(vectors.filter(
        graft.features.Features.hashSample(col(idCol), hexThreshold)),
      idCol, vecCol, m, kCodes, iters)

  /** Per-row dimension guard for the corpus-slicing scans: passes the
    * vector through unchanged when its size matches the model's
    * dimension, raises (with the offending size) otherwise. A lazy
    * CaseWhen branch — codegen'd, O(1) per row (array size is a
    * header read), so the guard rides the scan that was already
    * touching every row instead of costing its own corpus pass. */
  private def checkedDim(vec: Column, dim: Int): Column =
    when(size(vec) === dim, vec).otherwise(raise_error(format_string(
      s"PQ encode: vector has %s dims, model expects $dim — a ragged " +
        "corpus would silently mis-slice into wrong codes", size(vec))))

  /** The `(distance-expanded, index)` score structs for a vector
    * against an embedded centroid table — THE shared argmin idiom
    * behind [[codesFor]], [[coarseCell]] and [[probeCellsCol]] (one
    * place for the tie-break and null contracts; `array_min`/
    * `array_sort` struct ordering breaks ties to the lower index). */
  private def centScores(v: Column, cents: Array[Array[Double]]): Column =
    array(cents.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x * x).sum
      val cArr = array(c.map(lit).toIndexedSeq: _*)
      struct((lit(c2) - lit(2.0) * Similarity.dot(v, cArr)).as("d"),
        lit(i).as("i"))
    }.toIndexedSeq: _*)

  /** The m-code array for one vector: per subspace, argmin over codes
    * of ‖c‖²−2⟨v_s,c⟩ (ties to the lower code — the
    * [[Similarity.ivfCell]] expression shape, m·kCodes fused dot
    * products per row, whole-stage codegen, zero shuffle). A NULL
    * vector yields NULL codes — array_min over null-distance structs
    * would otherwise silently encode it as code 0 in every subspace,
    * giving a null row finite fake ADC distances. */
  def codesFor(vec: Column, model: PqModel): Column = {
    val v = vec.cast("array<double>")
    val per = model.books.zipWithIndex.map { case (book, s) =>
      val vs = slice(v, s * model.subDim + 1, model.subDim)
      array_min(centScores(vs, book)).getField("i")
    }
    when(vec.isNull, lit(null)).otherwise(array(per.toIndexedSeq: _*))
  }

  /** Encode a corpus: (id, codes array<int>) — the relation a 100 TB
    * deployment materializes (bucketed by id) instead of raw vectors.
    * Null-vector rows are EXCLUDED (they cannot be searched; the fit
    * already dropped them via KMeansRel.clean) — keeping them would
    * either fabricate code-0 rows or null codes every probe must
    * re-filter. A vector whose size differs from the model dimension
    * raises on the spot ([[checkedDim]]) — the fit may have seen only
    * a sample ([[fitSample]]), but encode sees every row. */
  def encode(vectors: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame =
    vectors.filter(col(vecCol).isNotNull)
      .select(col(idCol),
        codesFor(checkedDim(col(vecCol), model.subDim * model.m), model)
          .as("codes"))

  /** Per-subspace query self-dots ⟨q_s,q_s⟩ as an m-element array —
    * constant per query, so [[adcTopK]]/[[ivfAdcTopK]] compute it ONCE
    * on the broadcast query side instead of once per (query, code)
    * row (the hoist roughly halves the scored scan's dot-product
    * flops). Kept as PER-SUBSPACE values, not one full-vector dot, so
    * [[adcDistPre]]'s term grouping — and therefore every raw double
    * the heap ranks on — is bit-identical to [[adcDist]]. */
  def qSubNorms(qvec: Column, model: PqModel): Column = {
    val q = qvec.cast("array<double>")
    array(model.books.indices.map { s =>
      val qs = slice(q, s * model.subDim + 1, model.subDim)
      Similarity.dot(qs, qs)
    }.toIndexedSeq: _*)
  }

  /** ADC distance of an un-quantized query to a code row:
    * Σ_s (‖c_s‖² − 2⟨q_s,c_s⟩ + ⟨q_s,q_s⟩) = ‖q − reconstruct(codes)‖².
    * Codebook arrays and norms embed as literals; the code column
    * indexes into them with `element_at` — still a pure projection. */
  def adcDist(qvec: Column, codes: Column, model: PqModel): Column =
    adcDistPre(qvec, qSubNorms(qvec, model), codes, model)

  /** [[adcDist]] with the query self-dots precomputed (see
    * [[qSubNorms]]) — identical values, per-row work reduced to the
    * m codebook lookups and m sub-dots against the centroids. */
  def adcDistPre(qvec: Column, qn2s: Column, codes: Column,
      model: PqModel): Column = {
    val q = qvec.cast("array<double>")
    val terms = model.books.zipWithIndex.map { case (book, s) =>
      val qs = slice(q, s * model.subDim + 1, model.subDim)
      val cents = array(book.map(c =>
        array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
      val norms = array(book.map(c =>
        lit(c.map(x => x * x).sum)).toIndexedSeq: _*)
      val idx = element_at(codes, s + 1) + 1
      element_at(norms, idx) - lit(2.0) * Similarity.dot(qs, element_at(cents, idx)) +
        element_at(qn2s, s + 1)
    }
    terms.reduceLeft(_ + _)
  }

  /** Per-query top-k on the bounded heap ([[graft.functions
    * .BoundedTopKAgg]]): every aggregation buffer holds ≤ k
    * (distance, id) pairs, so only heap-sized partials shuffle — a
    * window rank here would shuffle the ENTIRE queries × corpus
    * scored relation (the q87 lesson). Struct ordering = (raw
    * distance asc, id asc), identical to the rank contract. */
  private def heapTopK(scored: DataFrame, qIdCol: String, idCol: String,
      k: Int): DataFrame =
    scored.groupBy(col(qIdCol))
      .agg(graft.functions.bounded_topk(
        struct(col("__ad2"), col(idCol)), k).as("__top"))
      .select(col(qIdCol), posexplode(col("__top")))
      .select(col(qIdCol), col("col").getField(idCol).as(idCol),
        round(col("col").getField("__ad2"), 6).as("ad2"),
        (col("pos") + 1).cast("long").as("rn"))

  /** Approximate top-k by ADC: broadcast the (small) query relation
    * against the codes scan, one codegen'd distance per (query, code)
    * row, per-query bounded-heap rank. The scan is the brute-force
    * shape but over m ints per row instead of d floats — the PQ
    * trade. Ranks by the raw double (ties to the lower id), outputs
    * the 6-decimal-rounded distance, the repo's cross-engine
    * contract. */
  def adcTopK(codes: DataFrame, idCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      model: PqModel, k: Int): DataFrame = {
    // __qn2s materializes into the broadcast hash relation — the
    // query self-dots are computed once per QUERY, not per scored row
    val q = broadcast(queries.select(col(qIdCol).as("__qid"),
      col(qVecCol).cast("array<double>").as("__qv"))
      .withColumn("__qn2s", qSubNorms(col("__qv"), model)))
    val scored = codes.crossJoin(q)
      .select(col("__qid").as(qIdCol), col(idCol),
        adcDistPre(col("__qv"), col("__qn2s"), col("codes"), model)
          .as("__ad2"))
      // a null QUERY vector nulls every distance; the heap's struct
      // ordering would rank those null keys FIRST — drop them (the
      // query is then absent from the output, not fabricated)
      .filter(col("__ad2").isNotNull)
    heapTopK(scored, qIdCol, idCol, k)
  }

  /** Fit + encode + search in one call (the q182 shape). Queries must
    * not alias the corpus id column name. */
  def pqTopK(vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String,
      m: Int, kCodes: Int, iters: Int, k: Int): DataFrame = {
    val model = fit(vectors, idCol, vecCol, m, kCodes, iters)
    adcTopK(encode(vectors, idCol, vecCol, model), idCol,
      queries, qIdCol, vecCol, model, k)
  }

  // =================================================================
  // IVF-ADC: the billion-scale composition (Jégou et al. 2011 §IV) —
  // a coarse quantizer prunes WHICH vectors are scanned, PQ over the
  // RESIDUAL (v − coarse centroid) shrinks WHAT is scanned. At 100 TB
  // the index relation is written partitioned by cell; an nprobe-cell
  // query reads ~nprobe/nlist of the codes and never touches raw
  // vectors.
  // =================================================================

  /** Coarse + residual-PQ model. Both quantizers follow the
    * [[KMeansRel]] determinism contract, so the index relation is
    * recomputable across engines and re-runs. */
  final case class IvfAdcModel(coarse: Array[Array[Double]], pq: PqModel)

  private def coarseCell(vec: Column, coarse: Array[Array[Double]]): Column =
    array_min(centScores(vec.cast("array<double>"), coarse)).getField("i")

  /** v − coarse[cell], as a codegen'd zip_with over the embedded
    * centroid table. */
  private def residual(vec: Column, cell: Column,
      coarse: Array[Array[Double]]): Column = {
    val cents = array(coarse.map(c =>
      array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
    zip_with(vec.cast("array<double>"), element_at(cents, cell + 1),
      (a, b) => a - b)
  }

  /** Fit the coarse quantizer on the vectors, then PQ on the
    * residuals. Residuals are a projection (no shuffle); the two fits
    * are the only shuffling stages. */
  def ivfAdcFit(vectors: DataFrame, idCol: String, vecCol: String,
      nlist: Int, m: Int, kCodes: Int, iters: Int): IvfAdcModel = {
    val coarse = KMeansRel.fitCentroids(vectors, idCol, vecCol, nlist, iters)
    val res = vectors
      .withColumn("__cell", coarseCell(col(vecCol), coarse))
      .select(col(idCol),
        residual(col(vecCol), col("__cell"), coarse).as("__res"))
    IvfAdcModel(coarse, fit(res, idCol, "__res", m, kCodes, iters))
  }

  /** The index relation: (id, cell, codes). At scale, write this
    * partitioned by `cell` (the [[Similarity.buildIvfIndex]] layout)
    * so probes prune partitions at planning time. */
  def ivfAdcIndex(vectors: DataFrame, idCol: String, vecCol: String,
      model: IvfAdcModel): DataFrame =
    // null-vector rows excluded for the same reason as [[encode]] —
    // a null would otherwise land in cell 0 with code-0 codes; a
    // mis-sized vector raises per-row ([[checkedDim]]) before it can
    // assign to a bogus cell or mis-slice its residual
    vectors.filter(col(vecCol).isNotNull)
      .withColumn("cell", coarseCell(
        checkedDim(col(vecCol), model.coarse.head.length), model.coarse))
      .select(col(idCol), col("cell"),
        codesFor(residual(col(vecCol), col("cell"), model.coarse),
          model.pq).as("codes"))

  /** The query's `nprobe` nearest coarse cells, as an array column —
    * ranked by the same expanded distance as assignment, ties to the
    * lower cell (the [[Similarity.probeCells]] contract, computed
    * per-row instead of driver-side so a query RELATION probes in one
    * pass). */
  private def probeCellsCol(qvec: Column, coarse: Array[Array[Double]],
      nprobe: Int): Column =
    transform(
      slice(array_sort(centScores(qvec.cast("array<double>"), coarse)),
        1, nprobe),
      x => x.getField("i"))

  /** IVF-ADC search: explode each query into its nprobe (query, cell)
    * probes, join the cell-keyed index (only probed cells are read —
    * under a cell-partitioned store this is partition pruning), ADC
    * the query RESIDUAL against the residual codes, rank per query.
    * Approximation error vs flat [[adcTopK]]: vectors outside the
    * probed cells are unseen — the IVF recall trade. */
  def ivfAdcTopK(index: DataFrame, idCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      model: IvfAdcModel, nprobe: Int, k: Int): DataFrame = {
    val probes = broadcast(queries
      .select(col(qIdCol).as("__qid"),
        col(qVecCol).cast("array<double>").as("__qv"))
      .withColumn("cell",
        explode(probeCellsCol(col("__qv"), model.coarse, nprobe)))
      .withColumn("__qres", residual(col("__qv"), col("cell"), model.coarse)))
    val scored = index.join(probes, Seq("cell"))
      .select(col("__qid").as(qIdCol), col(idCol),
        adcDist(col("__qres"), col("codes"), model.pq).as("__ad2"))
      // null query vector → null residual → null distances: drop (the
      // heap would rank null sort keys first) — see adcTopK
      .filter(col("__ad2").isNotNull)
    heapTopK(scored, qIdCol, idCol, k)
  }
}
