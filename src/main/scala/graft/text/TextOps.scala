package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization,
  * shingling, language ID, quality scoring, fingerprinting. All are
  * expression-tree compositions (higher-order array functions), so they
  * whole-stage-codegen and run scan-local — zero shuffle per document.
  */
object TextOps {

  /** Whitespace tokens, empties removed. Splits on runs of ANY
    * whitespace — a literal-space split would fuse words across
    * tabs/newlines, undercounting tokens and skewing every quality
    * ratio on multi-line documents. The split class is the EXPLICIT
    * five chars `[ \t\n\f\r]` — RE2's `\s`, which the DuckDB oracles
    * use and which is the narrowest of the three candidate classes
    * (Java `\s` adds U+000B vertical tab; `Character.isWhitespace`
    * adds a dozen Unicode points) — matching the native
    * `TextHash.isTokenSep` exactly. Writing Java `\s` here would
    * silently split on U+000B where the oracle doesn't. */
  def tokens(text: Column): Column =
    filter(split(text, "[ \\t\\n\\f\\r]+"), t => t =!= "")

  /** Distinct token set (order-normalized for set operations). */
  def tokenSet(text: Column): Column = array_sort(array_distinct(tokens(text)))

  /** Regex tokens — a BPE-ish word/number segmentation. The pattern is
    * deliberately RE2-safe so engine oracles (DuckDB) agree with Java
    * regex semantics. */
  val wordPattern = "[a-z0-9]+"
  def regexTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(wordPattern), lit(0))

  /** w-word shingles: join each sliding window of `w` tokens with a
    * separator. Built from `transform` over index `sequence` — stays in
    * codegen. */
  def wordShingles(text: Column, w: Int): Column = {
    val ts = tokens(text)
    val n = size(ts)
    when(n >= w,
      transform(sequence(lit(0), n - w),
        i => concat_ws(" ", slice(ts, i + 1, lit(w))))
    ).otherwise(array(concat_ws(" ", ts)))
  }

  /** Character n-grams of a string. */
  def charNgrams(text: Column, n: Int): Column = {
    val len = length(text)
    when(len >= n,
      transform(sequence(lit(1), len - n + 1), i => text.substr(i, lit(n))))
      .otherwise(array(text))
  }

  /** Per-language stopword marker lists for the n-gram/stopword language
    * heuristic. Tiny and embedded: language ID at 100 TB is a per-row
    * map-side expression, not a join. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "est"))

  /** Stopword-hit score for one language: number of marker words present
    * in the text (whitespace-delimited containment on a padded string —
    * identical semantics in DuckDB for the oracle). */
  def langScore(text: Column, words: Seq[String]): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    words.map(w => when(padded.contains(s" $w "), 1).otherwise(0))
      .reduce[Column](_ + _)
  }

  /** Heuristic language ID: argmax of per-language stopword scores,
    * ties broken by the order of [[stopwords]]; all-zero → "und". */
  def langId(text: Column): Column = {
    val scores = stopwords.map { case (l, ws) => l -> langScore(text, ws) }
    val best = scores.map(_._2).reduce[Column]((a, b) => greatest(a, b))
    // foldRight nests first language outermost → first-wins tie-break.
    scores.foldRight(lit("und")) { case ((l, s), rest) =>
      when(best > 0 && s === best, lit(l)).otherwise(rest)
    }
  }

  /** Quality-score ingredients: token count, mean token length,
    * stopword ratio, alpha ratio. Composite score in [0,1]-ish. */
  def nTokens(text: Column): Column = size(tokens(text)).cast("long")

  def meanTokenLen(text: Column): Column = {
    val ts = tokens(text)
    aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      greatest(size(ts), lit(1)).cast("double")
  }

  def stopwordRatio(text: Column): Column = {
    val sw = stopwords.flatMap(_._2).distinct
    val ts = tokens(lower(text))
    size(filter(ts, t => t.isin(sw: _*))).cast("double") /
      greatest(size(ts), lit(1)).cast("double")
  }

  def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^a-zA-Z]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Composite quality score — weighted blend of the ratios (weights are
    * engine-portable constants, not learned). */
  def qualityScore(text: Column): Column =
    least(lit(1.0),
      lit(0.4) * least(nTokens(text).cast("double") / lit(20.0), lit(1.0)) +
      lit(0.3) * alphaRatio(text) +
      lit(0.3) * least(stopwordRatio(text) * lit(4.0), lit(1.0)))

  /** Engine-portable polynomial rolling hash over tokens:
    * h = fold(h*31 + (17*len(w) + ascii(w))) mod 1e9+7. Weaker than
    * xxhash64 but expressible identically in SQL oracles (DuckDB
    * `list_reduce`). Tokenizes with [[regexTokens]] (lowercase ascii
    * runs) so the result agrees with the native
    * `graft.functions.rolling_hash` expression and the q21 oracle —
    * whitespace tokens would fold different `ascii()`/length values. */
  def rollingHash(text: Column): Column =
    rollingHashTokens(regexTokens(text))

  /** Engine-portable 60-bit SimHash, computed relationally: explode
    * whitespace tokens → md5-derived token hash (first 15 hex chars =
    * 60 bits, so the value is positive in any engine's signed 64-bit
    * integer) → ONE groupBy carrying 60 map-side-combinable ±1 bit
    * sums → sign bits reassembled into the signature. Docs with no
    * tokens get signature 0.
    *
    * The native `graft.functions.simhash64` expression (zero shuffle,
    * xxhash-based) is the throughput path; this variant trades one
    * shuffle of (id, 60 ints) for bit-for-bit reproducibility in any
    * engine with `md5` — it is what lets near-dup pair sets be verified
    * against an external SQL oracle rather than only against ScalaTest
    * brute force. */
  def portableSimhash60(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("tok"))
    val hv = toks.withColumn("hv",
      conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val bitSums = (0 until 60).map(b =>
      sum(when(shiftrightunsigned(col("hv"), b).bitwiseAND(lit(1L)) === lit(1L),
        lit(1)).otherwise(lit(-1))).as(s"__b$b"))
    val sums = hv.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    // after the left join a token-less doc has null bit sums: each
    // when() falls to otherwise(0), so its signature is 0 by the same
    // expression — no special-casing
    val sig = (0 until 60).map(b =>
      when(col(s"__b$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce[Column](_ + _)
    docs.select(col(idCol).as("id")).join(sums, Seq("id"), "left")
      .select(col("id"), sig.as("sig"))
  }

  /** Fixed-size token-window chunking with overlap — the context-length
    * splitter feeding training and retrieval pipelines: a document
    * becomes ⌈(n − overlap)/(size − overlap)⌉ windows of `size` tokens,
    * consecutive windows sharing `overlap` tokens so no boundary
    * context is lost. Pure map-side expression work (token split →
    * start-index sequence → slice), one output row per chunk via
    * posexplode; a short document yields itself as chunk 0. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
      size: Int, overlap: Int): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      "need 0 <= overlap < size")
    val step = size - overlap
    val ts = tokens(col(textCol))
    val n = size_(ts)
    val starts = sequence(lit(1), greatest(lit(1), n - lit(overlap)), lit(step))
    docs.select(col(idCol),
      posexplode(transform(starts,
        s => concat_ws(" ", slice(ts, s, lit(size))))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")
      .withColumn("n_chunk_tokens", size_(tokens(col("chunk"))).cast("long"))
  }

  // functions.size under its own name clashes with scala Predef in some
  // import orders; alias once
  private def size_(c: Column) = org.apache.spark.sql.functions.size(c)

  /** TF-IDF top terms per document — the retrieval/keyword-extraction
    * staple. IDF uses the sklearn smooth formula
    * `ln((N+1)/(df+1)) + 1` (never divides by zero, never negative).
    * Scale shape: the (doc, term, tf) relation aggregates with map-side
    * combine; the IDF table is vocabulary-sized and BROADCASTS back
    * onto it; top-k per doc reuses the hash-agg top-k (no global
    * window). `nDocs` is passed in (one `count()` the caller usually
    * already has) so the operator itself stays one-pass. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      nDocs: Long, k: Int): DataFrame = {
    val tf = docs.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df")) // one row per (doc, term) → df = doc count
      .withColumn("idf",
        log((lit(nDocs.toDouble) + 1.0) / (col("df") + lit(1.0))) + lit(1.0))
    val scored = tf.join(broadcast(idf.select(col("term"), col("idf"))), Seq("term"))
      .withColumn("tfidf", round(col("tf") * col("idf"), 6))
    graft.features.Features.topKPerGroupAgg(
      scored.select(col("id"), col("term"), col("tfidf")), "id",
      struct((-col("tfidf")).as("neg"), col("term").as("term")), k)
      .select(col("id"), col("term"),
        (-col("neg")).as("tfidf"), col("rn"))
  }

  /** Per-document character-distribution entropy (bits/char) — the
    * Gopher-family quality signal that catches low-information blobs
    * (base64 runs, repeated filler, binary spill) which token-level
    * filters miss: natural text sits in a characteristic band, extreme
    * entropy either way is suspect. One char explode + two-level
    * aggregation, map-side combining; entropy folds from (char count,
    * total) pairs, never materializing per-doc histograms on the
    * driver. */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chars = docs.select(col(idCol).as("id"),
      explode(split(col(textCol), "")).as("ch"))
      .filter(col("ch") =!= "")
    chars.groupBy(col("id"), col("ch")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("id")).agg(sum(col("cnt")).as("n_chars"),
        round((-sum(col("cnt") * log2(col("cnt")))
          / sum(col("cnt")) + log2(sum(col("cnt")))), 6).as("entropy"))
  }

  /** BPE-style adjacent-pair counting — the inner loop of tokenizer
    * training at corpus scale: weight each word by its corpus
    * frequency, then count adjacent symbol pairs across the weighted
    * vocabulary. The heavy stage (token explode → word counts)
    * collapses the corpus down to vocabulary size with map-side
    * combine BEFORE any character work — subsequent BPE merge rounds
    * replay against the vocabulary-sized word-count table, never the
    * corpus. Returns (pair, cnt); the caller picks the argmax (the
    * merge candidate) or top-k. */
  def bpePairCounts(docs: DataFrame, textCol: String): DataFrame =
    bpePairCountsFromWordCounts(docs
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt")))

  /** [[bpePairCounts]] from an existing corpus word-count relation
    * (`(w, cnt)`) — so a caller that ALREADY paid the corpus tokenize
    * pass (e.g. for [[bpeTokenCounts]]'s (doc, word) counts) can train
    * merges from it instead of re-scanning the corpus (r17, guide
    * §1.2: one full pass, not two). Values identical to
    * [[bpePairCounts]] by construction. */
  def bpePairCountsFromWordCounts(wordCounts: DataFrame): DataFrame =
    wordCounts
      .filter(length(col("w")) >= 2) // a 1-char word has no pair
      .select(explode(charNgrams(col("w"), 2)).as("pair"), col("cnt"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("cnt"))

  /** One-shot BPE merges table from [[bpePairCounts]]'s first-round
    * statistics: the top-`m` adjacent character pairs by
    * (count DESC, pair ASC), ranked 0..m-1 in that order — lower rank
    * = higher merge priority, the convention of every published BPE
    * merges file. True BPE training re-counts pairs after each merge;
    * this one-shot table is the oracle-replayable fixed contract (and
    * [[bpeEncodeWords]] accepts ANY (left, right, rank) relation, so
    * a caller with a real trained merges file feeds it unchanged).
    * Returns (left, right, rank) — model-sized by construction. */
  def bpeMerges(docs: DataFrame, textCol: String, m: Int): DataFrame =
    bpeMergesFromPairCounts(bpePairCounts(docs, textCol), m)

  /** The rank/select half of [[bpeMerges]], over any `(pair, cnt)`
    * relation ([[bpePairCounts]] or its from-word-counts variant). */
  def bpeMergesFromPairCounts(pairCounts: DataFrame, m: Int): DataFrame = {
    require(m >= 1, "need at least one merge")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("pair"))
    // the window runs AFTER the limit: a single-task sort of m rows
    pairCounts
      .orderBy(col("cnt").desc, col("pair")).limit(m)
      .withColumn("rank", (row_number().over(w) - 1).cast("int"))
      .select(substring(col("pair"), 1, 1).as("left"),
        substring(col("pair"), 2, 1).as("right"), col("rank"))
  }

  /** The BPE APPLY inner loop, pure JVM: split `word` into codepoint
    * symbols, then repeatedly merge the LEFTMOST occurrence of the
    * lowest-ranked adjacent pair until no pair is in the table. One
    * merge per step (not all-occurrences-per-rank) — a simpler
    * deterministic contract than the GPT-2 batch variant, identical
    * whenever merges don't interact, and exactly replayable by a
    * recursive SQL CTE (the q175 oracle). Codepoint splitting matches
    * SQL `substr` semantics on supplementary characters. */
  private[text] def bpeApply(word: String,
      ranks: Map[(String, String), Int]): Seq[String] = {
    var syms = word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp))).toVector
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestPos = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestPos = i } // strict <: leftmost tie
        i += 1
      }
      if (bestPos < 0) done = true
      else {
        syms = (syms.take(bestPos) :+ (syms(bestPos) + syms(bestPos + 1))) ++
          syms.drop(bestPos + 2)
        done = syms.length < 2
      }
    }
    syms
  }

  /** BPE-encode a WORD relation against a merges table — the
    * tokenizer-apply face of [[bpePairCounts]]. The merges relation is
    * model-sized by contract (a tokenizer's merge list, tens of
    * thousands of rows at most), so it collects to a broadcast map;
    * the per-word merge loop is inherently iterative data-dependent
    * control flow, which is why this is the one place the text stack
    * uses a Scala UDF — and the corpus-scale discipline is the CALLER
    * feeding it the collapsed vocabulary, not raw tokens (see
    * [[bpeTokenCounts]]: corpus → distinct words → encode once per
    * word → weighted join-back, the [[bpePairCounts]] shape).
    * Appends `bpe_tokens` (array of symbol strings). */
  def bpeEncodeWords(words: DataFrame, wordCol: String,
      merges: DataFrame): DataFrame = {
    val ranks = merges.select(col("left"), col("right"), col("rank"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    val enc = udf((w: String) =>
      if (w == null) null else bpeApply(w, ranks))
    words.withColumn("bpe_tokens", enc(col(wordCol)))
  }

  /** Per-document token counts under BOTH budgets: whitespace words
    * and BPE tokens against `merges` — the correction every
    * token-budget operator (packing, mixture quotas, corpus cards)
    * needs, because whitespace counts misstate real-tokenizer budgets
    * (English prose runs ~1.3 BPE tokens per word; code and
    * non-Latin text far more). Corpus-collapsed: the heavy stages are
    * the token explode → (doc, word) counts and a vocabulary-sized
    * encode + join-back; the merge loop never sees corpus-scale rows.
    * Returns (idCol, n_ws_tokens, n_bpe_tokens). */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: DataFrame): DataFrame =
    bpeTokenCountsFromWordCounts(docWordCounts(docs, idCol, textCol),
      idCol, merges)

  /** The shared heavy relation of the BPE stack: per-document word
    * counts `(idCol, __w, __cnt)` — ONE corpus tokenize pass that both
    * merge training ([[bpePairCountsFromWordCounts]] over its
    * `groupBy(__w)` projection) and token counting
    * ([[bpeTokenCountsFromWordCounts]]) can consume, instead of each
    * re-scanning and re-tokenizing the corpus (r17, guide §1.2). */
  def docWordCounts(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__cnt"))

  /** [[bpeTokenCounts]] from an existing [[docWordCounts]] relation. */
  def bpeTokenCountsFromWordCounts(wc: DataFrame, idCol: String,
      merges: DataFrame): DataFrame = {
    val vocab = wc.select(col("__w")).distinct()
    val encoded = bpeEncodeWords(vocab, "__w", merges)
      .select(col("__w"),
        size_(col("bpe_tokens")).cast("long").as("__nb"))
    wc.join(encoded, Seq("__w"))
      .groupBy(col(idCol))
      .agg(sum(col("__cnt")).as("n_ws_tokens"),
        sum(col("__cnt") * col("__nb")).as("n_bpe_tokens"))
  }

  /** Gopher-style within-document repetition metrics — the quality
    * rules that catch pathological pages exact/near dedup misses
    * (keyword stuffing, template spam): the fraction of REPEATED
    * n-gram occurrences and the share claimed by the single most
    * frequent n-gram. One explode + a two-level aggregation
    * ((id, gram) counts, then per-id moments) — both stages combine
    * map-side, one shuffle each, no window.
    *
    * Output: (id, n_grams, dup_frac = 1 − distinct/total,
    * top_frac = max_count/total), doubles rounded to 6. */
  def repetitionMetrics(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val grams = docs.select(col(idCol).as("id"),
      explode(wordShingles(lower(col(textCol)), n)).as("gram"))
    grams.groupBy(col("id"), col("gram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("id")).agg(
        sum(col("cnt")).as("n_grams"),
        count(lit(1)).as("__distinct"),
        max(col("cnt")).as("__max"))
      .select(col("id"), col("n_grams"),
        round(lit(1.0) - try_divide(col("__distinct"), col("n_grams")), 6)
          .as("dup_frac"),
        round(try_divide(col("__max"), col("n_grams")), 6).as("top_frac"))
  }

  /** Modulus and affine-permutation constants for [[portableMinhash]].
    * Derived by splitmix64 of the permutation index — no RNG state, and
    * the same literals inline into an external SQL oracle. The modulus
    * is a 31-bit prime so `a * h + b` stays far inside int64 in any
    * engine. */
  val minhashP: Long = 1000000007L

  def minhashParams(k: Int): Seq[(Long, Long)] = {
    def sm(x: Long): Long = {
      var z = x * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (0 until k).map { j =>
      (Math.floorMod(sm(2L * j + 1), minhashP - 1) + 1, // a in [1, P-1]
        Math.floorMod(sm(2L * j + 2), minhashP)) //          b in [0, P-1]
    }
  }

  /** Engine-portable MinHash signature: `width`-word shingles
    * ([[wordShingles]] over the lowercased text), each hashed to the
    * 60-bit md5 prefix (the [[portableSimhash60]] recipe) and reduced
    * mod [[minhashP]]; signature slot j is the minimum of the j-th
    * affine permutation `(a_j * h + b_j) mod P` over the doc's
    * shingles. The native xxhash `minhash_sig` expression is the
    * throughput path; this variant trades md5 cost for bit-for-bit
    * reproducibility in any engine — the q28 oracle recomputes every
    * signature value in SQL. Output: (id, m0..m{k-1}); a shingle-less
    * doc (empty text) hashes its single empty shingle like any other,
    * so no null-handling asymmetry exists between engines. */
  def portableMinhash(docs: DataFrame, idCol: String, textCol: String,
      width: Int, k: Int): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      explode(wordShingles(lower(col(textCol)), width)).as("shingle"))
    val h = sh.withColumn("h",
      conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long") % minhashP)
    val mins = minhashParams(k).zipWithIndex.map { case ((a, b), j) =>
      min((lit(a) * col("h") + lit(b)) % minhashP).as(s"m$j")
    }
    h.groupBy(col("id")).agg(mins.head, mins.tail: _*)
  }

  /** Rolling hash over an explicit token-array column (use
    * [[regexTokens]] for an ascii-stable token stream whose `ascii()`
    * agrees across engines). */
  def rollingHashTokens(toks: Column): Column =
    aggregate(
      transform(toks, w => (length(w) * 17 + ascii(w)).cast("long")),
      lit(0L),
      (h, x) => (h * 31L + x) % 1000000007L)

  /** Inverted index: one row per distinct term with its SORTED posting
    * list and document frequency — the keyword-search / corpus-audit
    * primitive. One (doc, term) explode (distinct terms per doc, so a
    * term counts once per document) and one term-keyed shuffle.
    *
    * Posting-list skew is the classic hazard: a stop-word's postings
    * are corpus-sized, and `collect_list` buffers a whole term's list.
    * `maxDf` prunes those terms BEFORE any list is built (df counts
    * first — cheap long pairs — then a semi join keeps only sub-cap
    * terms; AQE handles the skewed build side). Real engines also
    * block-split and delta-encode giant lists; at 100 TB pair that cap
    * with `Warehouse.writeBucketed("term")` for a probe-local layout.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
      maxDf: Option[Long] = None): DataFrame = {
    val pairs = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(regexTokens(col(textCol)))).as("term"))
    val kept = maxDf match {
      case Some(cap) =>
        val ok = pairs.groupBy("term").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("term")
        pairs.join(ok, Seq("term"), "left_semi")
      case None => pairs
    }
    kept.groupBy("term")
      .agg(sort_array(collect_list(col("doc_id"))).as("postings"),
        count(lit(1)).as("df"))
  }

  /** Conjunctive (AND) keyword search by posting intersection: pull
    * ONLY the query terms' postings (term-pruned index scan — with a
    * term-partitioned index layout this touches k files), explode,
    * and keep doc_ids hit by ALL terms via a count-equality — the
    * k-way sorted-list intersection expressed relationally, no
    * corpus scan anywhere. */
  def searchAnd(index: DataFrame, terms: Seq[String]): DataFrame = {
    val qs = terms.distinct
    require(qs.nonEmpty, "empty query")
    index.filter(col("term").isin(qs: _*))
      .select(explode(col("postings")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === qs.length)
      .select("doc_id")
  }

  /** Vocabulary coverage / OOV profile: build the top-`vocabSize`
    * corpus vocabulary (by count desc, term asc — deterministic ties)
    * over [[regexTokens]], then score every document's fraction of
    * token OCCURRENCES falling outside it. The tokenizer-fit
    * pre-check for a training corpus: a high OOV rate flags docs a
    * fixed vocab (or BPE merge table) will shred into bytes.
    *
    * Scale shape: the vocab is a TakeOrdered top-V over the word-count
    * aggregate (bounded by construction) and joins back as a
    * broadcast; per-doc token counts partially aggregate map-side
    * (one document's tokens never leave their input partition before
    * the combine). Documents with zero tokens produce no row.
    *
    * @return (idCol, n_tokens, oov_tokens, oov_rate rounded to 6). */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"need vocabSize >= 1, got $vocabSize")
    val toks = docs.select(col(idCol),
      explode(regexTokens(col(textCol))).as("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("term")).limit(vocabSize)
      .select(col("term"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_rate", round(col("oov_tokens") / col("n_tokens"), 6))
  }

  /** Gopher-style rule-based quality gate (Rae et al. 2021, §A1.1):
    * the battery of cheap structural checks a web corpus passes
    * through BEFORE any model-based scoring — word-count bounds,
    * mean-word-length band, symbol-to-word ratio, bullet-line and
    * ellipsis-line fractions, alphabetic-word fraction, and a
    * minimum stop-word containment. One row out per document with
    * every metric, every rule verdict, and the conjunction `keep`.
    *
    * Scale shape: a PURE per-row projection — tokens, lines, and
    * ratios are all map-side higher-order-function expressions inside
    * whole-stage codegen; the operator induces zero shuffles and
    * composes with any downstream filter pushdown. (That is the point:
    * at 100 TB the structural gate runs in the scan stage, so the
    * expensive operators downstream only ever see survivors.)
    *
    * Ratios divide exact integer counts, so both engines produce
    * identical doubles; rule comparisons use the unrounded values and
    * outputs are rounded to 6 places. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val text = col(textCol)
    val ts = tokens(text)
    val nw = size(ts).cast("long")
    val nwSafe = greatest(nw, lit(1L)).cast("double")
    val meanLen = aggregate(ts, lit(0L), (a, t) => a + length(t))
      .cast("double") / nwSafe
    val symbolRatio =
      size(regexp_extract_all(text, lit("#|\\.{3}|…"), lit(0)))
        .cast("double") / nwSafe
    val lines = filter(split(text, "\n"), l => trim(l) =!= "")
    val nl = greatest(size(lines), lit(1)).cast("double")
    val bulletFrac = size(filter(lines,
      l => ltrim(l).rlike("^[-*•]"))).cast("double") / nl
    val ellipsisFrac = size(filter(lines,
      l => rtrim(l).rlike("(\\.{3}|…)$"))).cast("double") / nl
    val alphaWordFrac = size(filter(ts,
      w => w.rlike("[a-zA-Z]"))).cast("double") / nwSafe
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val tsLower = tokens(lower(text))
    val stopHits = size(filter(
      array(stops.map(lit): _*), s => array_contains(tsLower, s)))
      .cast("long")
    docs.select(col(idCol),
      nw.as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(symbolRatio, 6).as("symbol_ratio"),
      round(bulletFrac, 6).as("bullet_frac"),
      round(ellipsisFrac, 6).as("ellipsis_frac"),
      round(alphaWordFrac, 6).as("alpha_word_frac"),
      stopHits.as("stop_hits"),
      (nw >= minWords && nw <= maxWords &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        symbolRatio < 0.1 &&
        bulletFrac <= 0.1 && ellipsisFrac <= 0.3 &&
        alphaWordFrac >= 0.8 && stopHits >= 2L).as("keep"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every `k`-token shingle,
    * slide a `w`-hash window, and keep each window's minimum (ties to
    * the RIGHTMOST position, the paper's density rule). Guarantees any
    * shared run of ≥ w+k−1 tokens between two documents shares a
    * fingerprint — the local-fingerprint dedup/plagiarism primitive
    * between exact chunk hashing (position-brittle) and MinHash
    * (global, not positional).
    *
    * Portability: the shingle hash is its md5 hex string and the
    * window minimum is taken over `md5 ∥ zero-padded(10^7−1−pos)`
    * strings — lexicographic string min picks (min hash, rightmost
    * pos) in one portable comparison, no numeric hash arithmetic any
    * SQL engine could round differently. Positions are capped at 10^7
    * shingles per document (loudly, via the lpad width).
    *
    * Scale shape: shingling and hashing are map-side; the only
    * shuffle is the per-document ordered window over shingle
    * positions — partitions are document-sized (bounded by the
    * position cap), never corpus-sized. Documents with fewer than
    * w+k−1 tokens emit nothing (no complete window).
    *
    * @return distinct (idCol, pos, fp) — the selected shingle
    *         positions and their md5 fingerprints. */
  def winnow(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1, s"need k >= 1 shingle tokens, got $k")
    require(w >= 2, s"need w >= 2 window hashes, got $w")
    val ts = tokens(col(textCol))
    val shingles = when(size(ts) >= k,
      transform(sequence(lit(0), size(ts) - k),
        i => concat_ws(" ", slice(ts, i + 1, lit(k))))
    ).otherwise(array().cast("array<string>"))
    val hashed = docs
      .select(col(idCol), posexplode(shingles).as(Seq("__p", "__g")))
      .select(col(idCol), col("__p"),
        concat(md5(col("__g")),
          lpad((lit(9999999) - col("__p")).cast("string"), 7, "0"))
          .as("__key"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__p"))
      .rowsBetween(-(w - 1), 0)
    hashed
      .withColumn("__min", min(col("__key")).over(win))
      .filter(col("__p") >= w - 1) // complete windows only
      .select(col(idCol),
        (lit(9999999) - substring(col("__min"), 33, 7).cast("long"))
          .as("pos"),
        substring(col("__min"), 1, 32).as("fp"))
      .distinct()
  }
}
