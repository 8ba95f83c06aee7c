package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.etl.{Cleaning, Router, SurrogateKeys}
import graft.olap.{AggNavigator, Cube, StarSchema}
import graft.features.Features
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.TextOps

/** One declared query: `build` makes its frame from a session and a
  * fixture dir, `oracleSql` is the DuckDB SQL the driver replays
  * against that frame, and `bench` puts it in [[Bench]]'s timed set. */
final case class QuerySpec(name: String,
    build: (SparkSession, String) => DataFrame, oracleSql: String,
    bench: Boolean = false)

/** The engine's declared query surface: one entry per implemented
  * operator family from SURVEY.md §2 (+ the training-data-pipeline
  * extensions), each paired with ANSI SQL the driver replays in DuckDB.
  *
  * Cross-engine determinism rules used throughout (the driver compares
  * by value hash, so results must be bit-stable across engines):
  *  - money/measure sums go through an exact `DECIMAL` cast per row and
  *    only the final sum is cast back to double — double summation is
  *    order-dependent and would differ between Spark and DuckDB;
  *  - per-row double expressions (z-scores, cosines, ratios) are rounded
  *    to 6 decimals: the cross-engine error is ~1e-14, far below the
  *    rounding grid;
  *  - every query ends in a deterministic ORDER BY (with explicit
  *    NULLS FIRST in SQL to match Spark's asc_nulls_first default).
  */
object Queries {

  /** Adaptive input fan-out: the documents/embeddings tables are small
    * in bytes but CPU-heavy per row (minhash/simhash/cosine are O(tokens)
    * or O(dim) per row), and the test corpus ships as single-row-group
    * parquet — an unsplittable scan that would pin all that compute on
    * one core. A byte-size probe (ONE driver FS call — not an
    * `rdd.getNumPartitions` probe, which forces a whole extra
    * QueryExecution per query) decides: under the threshold the scan
    * cannot have enough splits, so redistribute; on a real 100 TB
    * layout the table blows past it and this is a no-op.
    */
  private def fanOut(spark: SparkSession, path: String, df: DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // count DATA files only: getContentSummary would include _SUCCESS
    // and other commit markers, inflating the file count right at the
    // repartition threshold. One listStatus is still one driver FS
    // call; a partitioned (subdirectory) layout falls back to the
    // recursive summary — a flat listing would see 0 data bytes there
    // and force-shuffle an arbitrarily large table.
    val (dataBytes, dataFiles) = {
      val top = fs.getFileStatus(p)
      if (!top.isDirectory) (top.getLen, 1L)
      else {
        val entries = fs.listStatus(p)
        if (entries.exists(_.isDirectory)) {
          val s = fs.getContentSummary(p)
          (s.getLength, s.getFileCount)
        } else {
          val stats = entries.filter(st => st.isFile && {
            val n = st.getPath.getName
            !n.startsWith("_") && !n.startsWith(".")
          })
          (stats.map(_.getLen).sum, stats.length.toLong)
        }
      }
    }
    val target = spark.sparkContext.defaultParallelism
    // redistribute when the table is small in bytes (a shuffle is
    // cheap) OR ships as very few mid-sized files (few-row-group
    // layouts cannot split no matter their byte size — the file count
    // is the bound the byte probe alone would miss). Beyond 8 GiB a
    // forced shuffle is no longer obviously cheaper than the skew, so
    // a genuinely huge-but-few-file layout is left to the reader.
    if (dataBytes < 256L * 1024 * 1024 ||
        (dataFiles < math.max(2, target / 2) &&
          dataBytes < 8L * 1024 * 1024 * 1024))
      df.repartition(target)
    else df
  }

  /** Fact-sized tables get the adaptive fan-out ([[fanOut]]): the test
    * corpus ships them as single-row-group files, so without it every
    * scan-side stage (partial aggregation, per-row text/vector work)
    * runs in ONE task no matter the core count. Dimension tables stay
    * plain — they ride broadcast sides where a repartition is pure
    * waste. */
  private val fanOutTables =
    Set("lineitem", "orders", "documents", "embeddings")

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (fanOutTables(name))
      fanOut(spark, s"$dir/$name.parquet", Tables.load(spark, dir, name))
    else if (name == "events") {
      // One loader, one contract: Tables.events handles both fixture
      // generations (TIMESTAMP(NANOS)-as-int64 legacy and native
      // TIMESTAMP(MICROS)) and normalizes `ts` to TIMESTAMP_NTZ.
      // No fanOut here: every events consumer immediately shuffles on
      // its own key (window start, user_id) — a pre-repartition is a
      // pure extra stage, measured ~2× slower on q13.
      Tables.events(spark, dir)
    } else Tables.load(spark, dir, name)

  private val dec2 = DecimalType(18, 2)
  private val dec6 = DecimalType(18, 6)

  /** Exact, order-independent sum of a double column: per-row decimal
    * cast, decimal sum, final cast back to double. */
  private def dsum(c: Column, dt: DecimalType = dec2): Column =
    sum(c.cast(dt)).cast("double")

  /** Exact cross-engine mean: decimal sum over non-null count — the
    * division happens once, in double, on bit-identical operands. */
  private def dmean(c: Column, dt: DecimalType = dec2): Column =
    (sum(c.cast(dt)) / count(c)).cast("double")

  // ===================================================================
  // Core warehouse queries (SURVEY §2 A/B/E/F)
  // ===================================================================

  /** E1/E2/E3 + B2: pricing-summary aggregate (TPC-H Q1 shape). */
  def q01Pricing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("cnt"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")),
          DecimalType(18, 4)).as("sum_disc"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
      | CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_qty
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** B5/B7 + pushdown: filtered row-level extract. The year filter is
    * written as a RANGE predicate, not `year(col) = 1995` — a function
    * over the column defeats parquet pushdown; the range form appears
    * in PushedFilters and prunes row groups via min/max stats. */
  def q02Filter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp_ntz") &&
        col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .orderBy("l_orderkey", "l_linenumber")

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
      |  AND l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** D1/D2: star join — orders ⋈ customer ⋈ nation ⋈ region, dims
    * broadcast so the fact side never shuffles for the dim lookups. */
  def q03Star(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val nation = t(s, dir, "nation")
    val region = t(s, dir, "region")
    orders
      .join(cust, orders("o_custkey") === cust("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("r_name", "n_name")
  }

  val q03Sql: String =
    """SELECT r_name, n_name, count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** E4: hierarchy roll-up with subtotals + grand total (the Mondrian
    * cube "All"-member semantics) via rollup + grouping_id. */
  def q04Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
        col("o_totalprice"))
      .rollup(col("y"), col("m"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"),
        grouping_id().cast("long").as("lvl"))
      .orderBy(col("lvl"), col("y").asc_nulls_first, col("m").asc_nulls_first)

  val q04Sql: String =
    """SELECT y, m, count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      | CAST(2*GROUPING(y) + GROUPING(m) AS BIGINT) AS lvl
      |FROM (SELECT CAST(year(o_orderdate) AS INT) y,
      |             CAST(month(o_orderdate) AS INT) m, o_totalprice FROM orders)
      |GROUP BY ROLLUP(y, m)
      |ORDER BY lvl, y NULLS FIRST, m NULLS FIRST""".stripMargin

  /** F2/F5: global top-k (Spark plans TakeOrderedAndProject — per
    * partition heaps, no full sort). */
  def q05TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .limit(10)

  val q05Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** G2: union of two extracts with a lineage column. */
  def q06Union(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val a = li.filter(col("l_returnflag") === "R")
      .withColumn("source_fact", lit("returned"))
    val b = li.filter(coalesce(col("l_returnflag") =!= "R", lit(true)))
      .withColumn("source_fact", lit("kept"))
    a.unionByName(b)
      .groupBy(col("source_fact"))
      .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("source_fact")
  }

  val q06Sql: String =
    """SELECT source_fact, count(*) AS cnt,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM (
      |  SELECT 'returned' AS source_fact, l_quantity FROM lineitem WHERE l_returnflag = 'R'
      |  UNION ALL
      |  SELECT 'kept' AS source_fact, l_quantity FROM lineitem
      |  WHERE l_returnflag <> 'R' OR l_returnflag IS NULL)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** D3/E5: deterministic surrogate-key dimension build. */
  def q07Dim(s: SparkSession, dir: String): DataFrame =
    SurrogateKeys.dim(t(s, dir, "part"), Seq("p_brand", "p_type"), "id_pt")
      .orderBy("id_pt")

  val q07Sql: String =
    """SELECT p_brand, p_type,
      | row_number() OVER (ORDER BY p_brand, p_type) AS id_pt
      |FROM (SELECT DISTINCT p_brand, p_type FROM part)
      |ORDER BY id_pt""".stripMargin

  /** B1: predicate router (split-not-drop, null-safe false branch),
    * expressed as the lineage-tag single-pass form. */
  def q08Router(s: SparkSession, dir: String): DataFrame =
    Router.tag(t(s, dir, "orders"), col("o_orderstatus") === "O", "open", "done")
      .groupBy(col("route")).agg(count(lit(1)).as("cnt"))
      .orderBy("route")

  val q08Sql: String =
    """SELECT CASE WHEN o_orderstatus = 'O' THEN 'open' ELSE 'done' END AS route,
      | count(*) AS cnt
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** C3: in-place value mapping with pass-through for unmatched. */
  def q09ValueMap(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("prio",
        Cleaning.valueMap(col("o_orderpriority"),
          Map("1-URGENT" -> "urgent", "2-HIGH" -> "high")))
      .groupBy(col("prio")).agg(count(lit(1)).as("cnt"))
      .orderBy("prio")

  val q09Sql: String =
    """SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent'
      |            WHEN o_orderpriority = '2-HIGH' THEN 'high'
      |            ELSE o_orderpriority END AS prio, count(*) AS cnt
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** C1: native normalize_string expression (lower + NFD accent strip +
    * whitespace collapse + trim). */
  def q10Normalize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        substring(graft.functions.normalize_string(col("text")), 1, 40).as("norm"))
      .orderBy("doc_id")

  val q10Sql: String =
    """SELECT doc_id,
      | substr(trim(regexp_replace(strip_accents(lower(text)), '\s+', ' ', 'g')), 1, 40) AS norm
      |FROM documents ORDER BY doc_id""".stripMargin

  /** E7/F-window: top-k rows per group — the hash-agg formulation
    * (groups here are order lines, bounded ≤7 by construction; see
    * Features.topKPerGroupAgg vs topKPerGroup for the trade-off). */
  def q11WindowTopK(s: SparkSession, dir: String): DataFrame =
    Features.topKPerGroupAgg(t(s, dir, "lineitem"), "l_orderkey",
        struct(negate(col("l_extendedprice")).as("np"),
          col("l_linenumber").as("l_linenumber")), 2)
      .select("l_orderkey", "l_linenumber", "rn")
      .orderBy("l_orderkey", "rn")

  val q11Sql: String =
    """SELECT l_orderkey, l_linenumber, rn FROM (
      |  SELECT l_orderkey, l_linenumber,
      |   row_number() OVER (PARTITION BY l_orderkey
      |     ORDER BY l_extendedprice DESC, l_linenumber) AS rn
      |  FROM lineitem)
      |WHERE rn <= 2 ORDER BY l_orderkey, rn""".stripMargin

  /** C6/C7: date-part extraction + aggregation over the events table. */
  def q12DateParts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"),
        year(col("ts")).as("y"), month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value"), dec6).as("sum_value"))
      .orderBy("event_type", "y", "m", "d")

  val q12Sql: String =
    """SELECT event_type, CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
      | CAST(day(ts) AS INT) AS d, count(*) AS cnt,
      | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin

  /** J: tumbling-window aggregation (the batch face of the Structured
    * Streaming plan — same logical window, see streaming.EventStream). */
  def q13EventsWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value"), dec6).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("cnt"), col("sum_value"))
      .orderBy("w_start", "event_type")

  val q13Sql: String =
    """SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS cnt,
      | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** H5/E10: z-score standardization (stats computed distributed, one
    * scalar agg; applied as a codegen'd expression). */
  def q14ZScore(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    Features.standardize(c, Seq("c_acctbal"))
      .select(col("c_custkey"), round(col("c_acctbal_z"), 6).as("z"))
      .orderBy("c_custkey")
  }

  val q14Sql: String =
    """SELECT c_custkey, round((c_acctbal - m)/sd, 6) AS z
      |FROM customer, (SELECT avg(c_acctbal) m, stddev_samp(c_acctbal) sd FROM customer)
      |ORDER BY c_custkey""".stripMargin

  /** E6/H9: class distribution + balanced class weights. */
  def q15ClassWeights(s: SparkSession, dir: String): DataFrame =
    Features.classWeights(t(s, dir, "embeddings"), "label")
      .orderBy("label")

  val q15Sql: String =
    """SELECT label, count(*) AS n,
      | (SELECT CAST(count(label) AS DOUBLE) FROM embeddings) /
      |   ((SELECT count(DISTINCT label) FROM embeddings) * count(*)) AS weight
      |FROM embeddings WHERE label IS NOT NULL
      |GROUP BY label ORDER BY label""".stripMargin

  /** H4: frequency-ordered label encoding (StringIndexer semantics). */
  def q16LabelEncode(s: SparkSession, dir: String): DataFrame =
    Features.labelEncoding(t(s, dir, "customer"), "c_mktsegment")
      .orderBy("label_idx")

  val q16Sql: String =
    """SELECT c_mktsegment,
      | CAST(row_number() OVER (ORDER BY count(*) DESC, c_mktsegment) - 1 AS BIGINT) AS label_idx
      |FROM customer WHERE c_mktsegment IS NOT NULL
      |GROUP BY c_mktsegment ORDER BY label_idx""".stripMargin

  // ===================================================================
  // Training-data pipeline extensions (dedup / text / similarity)
  // ===================================================================

  /** Exact dedup: hash-groupBy on a content fingerprint (md5 here so
    * DuckDB can reproduce the key; the library default is xxhash64 for
    * an 8-byte shuffle key). */
  def q17ExactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text",
        c => md5(c.cast("binary")))
      .orderBy("fp")

  val q17Sql: String =
    """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** n-gram Jaccard similarity of every document to a probe token set. */
  private val probeTokens = Seq("data", "fast", "query", "spark", "table")

  def q18Jaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardToProbe(t(s, dir, "documents"), "doc_id", "text", probeTokens)
      .orderBy("doc_id")

  val q18Sql: String =
    """WITH t AS (SELECT doc_id,
      |  list_sort(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS ts
      |  FROM documents)
      |SELECT doc_id, round(
      |  CAST(len(list_intersect(ts, ['data','fast','query','spark','table'])) AS DOUBLE) /
      |  (len(ts) + 5 - len(list_intersect(ts, ['data','fast','query','spark','table']))), 6) AS jaccard
      |FROM t ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic: stopword-marker argmax per document. */
  def q19LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(TextOps.langId(col("text")).as("langid"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("langid")

  /** DuckDB scalar expression mirroring `TextOps.langId(text)` —
    * shared by q19 and the q55 curation chain. */
  private val langIdSql: String = {
    val pad = "' ' || lower(text) || ' '"
    def score(ws: Seq[String]) = ws.map(w =>
      s"CASE WHEN contains($pad, ' $w ') THEN 1 ELSE 0 END").mkString(" + ")
    val scores = TextOps.stopwords.map { case (l, ws) => l -> s"(${score(ws)})" }
    val best = s"greatest(${scores.map(_._2).mkString(", ")})"
    val cases = scores.map { case (l, e) =>
      s"WHEN $best > 0 AND $e = $best THEN '$l'" }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  /** DuckDB literal for the cross-language stopword list — the single
    * source both quality oracles splice in. */
  private val stopwordArraySql: String = TextOps.stopwords.flatMap(_._2).distinct
    .map(w => s"'$w'").mkString("[", ",", "]")

  /** DuckDB scalar expression mirroring `TextOps.qualityScore(text)` —
    * the ONE copy of the quality formula, spliced into both q20 and the
    * q55 curation chain so the two can never drift apart. (`raw`
    * interpolation: the regexes contain backslashes.) */
  private val qualityExprSql: String =
    raw"""least(1.0,
         |   0.4 * least(CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS DOUBLE) / 20.0, 1.0) +
         |   0.3 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |     / greatest(length(text), 1)) +
         |   0.3 * least((CAST(len(list_filter(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> ''), x -> list_contains($stopwordArraySql, x))) AS DOUBLE)
         |     / greatest(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')), 1)) * 4.0, 1.0))"""
      .stripMargin

  val q19Sql: String =
    s"""SELECT $langIdSql AS langid, count(*) AS cnt
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Text quality scoring: token count, mean token length, alpha ratio,
    * stopword ratio, composite score. */
  def q20Quality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.nTokens(col("text")).as("n_tokens"),
        size(TextOps.regexTokens(col("text"))).cast("long").as("n_rtokens"),
        round(TextOps.meanTokenLen(col("text")), 6).as("mean_tok_len"),
        round(TextOps.alphaRatio(col("text")), 6).as("alpha_ratio"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"))
      .orderBy("doc_id")

  val q20Sql: String =
    raw"""WITH t AS (SELECT doc_id, text,
         |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
         |  FROM documents)
         |SELECT doc_id,
         | CAST(len(toks) AS BIGINT) AS n_tokens,
         | CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_rtokens,
         | round(CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE)
         |   / greatest(len(toks), 1), 6) AS mean_tok_len,
         | round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |   / greatest(length(text), 1), 6) AS alpha_ratio,
         | round($qualityExprSql, 6) AS quality
         |FROM t ORDER BY doc_id""".stripMargin

  /** Document fingerprinting: engine-portable polynomial rolling hash
    * over ascii word tokens. */
  def q21RollingHash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.rolling_hash(col("text")).as("rhash"))
      .orderBy("doc_id")

  val q21Sql: String =
    """WITH t AS (SELECT doc_id, list_transform(
      |   regexp_extract_all(lower(text), '[a-z0-9]+'),
      |   w -> CAST(17*length(w) + ascii(w) AS BIGINT)) AS xs FROM documents)
      |SELECT doc_id, CASE WHEN len(xs) = 0 THEN 0
      |  ELSE list_reduce(xs, (h, x) -> (h*31 + x) % 1000000007) END AS rhash
      |FROM t ORDER BY doc_id""".stripMargin

  /** Brute-force cosine top-k against a probe vector (the ANN baseline). */
  def q22CosineTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") === 0).limit(1), 10)
  }

  val q22Sql: String =
    """WITH p AS (SELECT CAST(embedding AS DOUBLE[]) AS pe FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id, round(
      |  list_dot_product(CAST(embedding AS DOUBLE[]), pe) /
      |  (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |   sqrt(list_dot_product(pe, pe))), 6) AS cosine
      |FROM embeddings, p
      |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** MinHash+LSH near-dup dedup, end-to-end, against the corpus's
    * genuinely planted near-duplicates: signature → banding → candidate
    * join → exact-Jaccard verify. The oracle is the exact O(n²) Jaccard
    * self-join, so this checks LSH achieves full recall at the 0.9
    * threshold on this corpus (verified: the minimum true-pair Jaccard
    * is 0.9, where 8-band/4-row recall is 99.98% and empirically 100%
    * here — deterministic because xxhash64 seeds are fixed). */
  def q23MinhashDup(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupPairs(t(s, dir, "documents"), "doc_id", "text", threshold = 0.9)
      .orderBy("id_a", "id_b")

  val q23Sql: String =
    """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x->x<>'') toks FROM documents),
      |s AS (SELECT doc_id, CASE WHEN len(toks) >= 3
      |  THEN list_distinct(list_transform(generate_series(1, len(toks)-2),
      |       i -> array_to_string(list_slice(toks, i, i+2), ' ')))
      |  ELSE [array_to_string(toks, ' ')] END sh FROM t),
      |p AS (SELECT a.doc_id id_a, b.doc_id id_b,
      |  CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE) /
      |    (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))) jaccard
      |  FROM s a, s b WHERE a.doc_id < b.doc_id)
      |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  /** SimHash near-dup pairs on the real corpus, via the ENGINE-PORTABLE
    * md5-based 60-bit signature (`TextOps.portableSimhash60`) so the
    * full bucketed pipeline — blocking, candidate expansion, exact
    * Hamming verify — is checked pair-for-pair against the exact O(n²)
    * DuckDB oracle below (full recall of the pigeonhole blocking is
    * thereby oracle-verified, not just spec-asserted). The native
    * xxhash `simhash64` path has identical plan shape and is covered by
    * DedupSpec. */
  def q24SimhashDup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairsFromSigs(
      graft.text.TextOps.portableSimhash60(t(s, dir, "documents"), "doc_id", "text"),
      maxHamming = 3, sigBits = 60,
      // the exact SQL oracle has no bucket cap, so the cap must sit
      // above any bucket this corpus can produce (near-dup clusters are
      // ~5 docs; even a fully degenerate sf0.1 corpus stays under this)
      // or Spark would silently drop pairs the oracle requires
      maxBucket = 1000000)
      .orderBy("id_a", "id_b")

  /** DuckDB CTE computing the identical portable 60-bit SimHash:
    * same `\s+` tokenization of lower(text), same md5-prefix token hash
    * (15 hex chars folded to a BIGINT), same ±1 bit sums and sign
    * reassembly. Integer arithmetic end-to-end → bit-exact across
    * engines. */
  private val portableSimhashCte: String =
    """toks AS (
      |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |                                    x -> x <> '')) AS tok
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, list_reduce(list_transform(generate_series(1, 15),
      |    i -> CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1 AS BIGINT)),
      |    (a, b) -> a * 16 + b) AS hv
      |  FROM toks),
      |bits AS (
      |  SELECT doc_id, r.b AS b,
      |    CASE WHEN sum(CASE WHEN (hv >> r.b) & 1 = 1 THEN 1 ELSE -1 END) >= 0
      |         THEN CAST(1 AS BIGINT) << r.b ELSE CAST(0 AS BIGINT) END AS bitval
      |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) r
      |  GROUP BY doc_id, r.b),
      |sig0 AS (SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS sig FROM bits GROUP BY doc_id),
      |sig AS (SELECT d.doc_id, coalesce(s.sig, 0) AS sig
      |        FROM documents d LEFT JOIN sig0 s USING (doc_id))""".stripMargin

  val q24Sql: String =
    s"""WITH $portableSimhashCte
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM sig a, sig b
       |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  /** Embedding-cosine near-dup on a doubled corpus: identity pairs at
    * cosine ~1, via the LSH-bucketed scale path (shuffles O(n·tables)
    * ids, not O(n²) vectors; spec asserts equality with the exact
    * all-pairs variant). */
  def q25EmbedDup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    val doubled = e.unionByName(
      e.withColumn("vec_id", col("vec_id") + lit(100000L)))
    Dedup.cosineDupPairsLsh(doubled, "vec_id", "embedding", threshold = 0.999)
      .orderBy("id_a", "id_b")
  }

  val q25Sql: String =
    """SELECT vec_id AS id_a, vec_id + 100000 AS id_b, CAST(1.0 AS DOUBLE) AS cosine
      |FROM embeddings ORDER BY id_a, id_b""".stripMargin

  /** C8: date sequence + explode (the forecasting future frame). */
  def q26DateSeq(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .agg(max(to_date(col("o_orderdate"))).as("d0"))
      .select(explode(sequence(date_add(col("d0"), 1), date_add(col("d0"), 365)))
        .as("d"))
      .orderBy("d")

  val q26Sql: String =
    """SELECT CAST(unnest(generate_series(d0 + 1, d0 + 365, INTERVAL 1 DAY)) AS DATE) AS d
      |FROM (SELECT max(CAST(o_orderdate AS DATE)) AS d0 FROM orders)
      |ORDER BY d""".stripMargin

  /** E4 via the OLAP cube API: drillDown = rollup + grouping_id level
    * mask (the Mondrian drill-down semantics; same oracle shape as
    * q04 but exercised through [[graft.olap.Cube]]). */
  def q30CubeDrill(s: SparkSession, dir: String): DataFrame =
    Cube.drillDown(
      t(s, dir, "orders").select(year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"), col("o_totalprice")),
      Cube.Hierarchy("fecha", Seq("y", "m")),
      Seq(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue")),
      depth = 2)
      .withColumnRenamed("level_mask", "lvl")
      .orderBy(col("lvl"), col("y").asc_nulls_first, col("m").asc_nulls_first)

  val q30Sql: String = q04Sql

  /** J-extension: batch sessionization (gaps-and-islands over lag +
    * running sum; the batch face of streaming.EventStream's custom-state
    * sessionizer). Session bounds as integer unix seconds — DuckDB keeps
    * nanosecond timestamps, Spark microseconds, so raw ts would differ. */
  def q31Sessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.sessionizeBatch(t(s, dir, "events"), 3600)
      .select(col("user_id"), col("session_seq").cast("long").as("session_seq"),
        col("n_events"),
        unix_timestamp(col("session_start")).as("start_s"),
        unix_timestamp(col("session_end")).as("end_s"))
      .orderBy("user_id", "session_seq")

  val q31Sql: String =
    """WITH x AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) es,
      |  ts FROM events),
      |y AS (SELECT user_id, es, event_id, ts,
      |  CASE WHEN lag(es) OVER w IS NULL OR es - lag(es) OVER w > 3600
      |       THEN 1 ELSE 0 END new_s
      |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |z AS (SELECT user_id, es,
      |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) session_seq FROM y)
      |SELECT user_id, session_seq, count(*) AS n_events,
      | min(es) AS start_s, max(es) AS end_s
      |FROM z GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Multimodal plumbing round-trip: fake-encode documents as media
    * binaries, decode metadata via the partition-local stub decoder
    * (mapPartitions), project the typed struct. */
  def q32MediaMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Multimodal
    val media = t(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        (id, Multimodal.fakeMedia("img", 8, 4, text.getBytes("UTF-8")))
      }.toDF("doc_id", "media")
    Multimodal.withMeta(media, "media")
      .select(col("doc_id"), col("meta.format").as("format"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.n_bytes").as("n_bytes"))
      .orderBy("doc_id")
  }

  val q32Sql: String =
    """SELECT doc_id, 'img' AS format, 8 AS width, 4 AS height,
      | CAST(strlen(text) AS BIGINT) AS n_bytes
      |FROM documents ORDER BY doc_id""".stripMargin

  /** ANN top-k via LSH bucketing. Approximate by design — but fully
    * deterministic, and the oracle below recomputes the SAME bucketing
    * from the same hyperplane constants, so the approximate result is
    * oracle-checked value-for-value (not merely rows-counted). */
  def q27AnnTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.annTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") === 0).limit(1), k = 10, bits = 12, dim = 64, multiprobe = 2)
  }

  /** DuckDB oracle for the LSH ANN queries, GENERATED from the same
    * splitmix64 hyperplane constants the Spark expressions fold in
    * (`Similarity.hyperplane`): bucket = sign bits of the plane dot
    * products, candidates = buckets within `multiprobe` bit flips,
    * exact cosine re-rank. Double literals round-trip exactly
    * (shortest-repr parsing), and both engines fold dot products
    * left-to-right, so bucket sign choices agree bit-for-bit. */
  private def annOracleSql(bits: Int, multiprobe: Int): String = {
    val bucketExpr = (0 until bits).map { b =>
      val plane = Similarity.hyperplane(b, 64).map(_.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(e, $plane) >= 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |b AS (SELECT vec_id, e, CAST($bucketExpr AS BIGINT) AS bucket FROM v),
       |p AS (SELECT e AS pe, bucket AS pbucket FROM b WHERE vec_id = 0)
       |SELECT b.vec_id, round(list_dot_product(b.e, p.pe) /
       |  (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(p.pe, p.pe))), 6) AS cosine
       |FROM b, p WHERE bit_count(xor(b.bucket, p.pbucket)) <= $multiprobe
       |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
  }

  val q27Sql: String = annOracleSql(bits = 12, multiprobe = 2)

  /** MinHash signatures via the engine-portable md5-based variant
    * ([[TextOps.portableMinhash]]) — every signature VALUE is
    * oracle-recomputed in DuckDB from the same shingle/hash/permutation
    * constants (the q29 strategy applied to MinHash; the native xxhash
    * `minhash_sig` expression is the throughput path, covered by
    * TextHashSpec and the q23 pipeline). The signature dumps as a
    * comma-joined string, not `array<bigint>`: the driver's comparison
    * harness sorts column values with pandas, which cannot hash numpy
    * arrays (round-1 `q28` harness crash). */
  def q28MinhashSig(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val sig = graft.text.TextOps.portableMinhash(
      t(s, dir, "documents"), "doc_id", "text", width = 3, k = k)
    sig.select(col("id").as("doc_id"),
        concat_ws(",", (0 until k).map(j => col(s"m$j")): _*).as("sig"))
      .orderBy("doc_id")
  }

  val q28Sql: String = {
    val p = graft.text.TextOps.minhashP
    val minExprs = graft.text.TextOps.minhashParams(16).zipWithIndex
      .map { case ((a, b), j) => s"min(($a * h + $b) % $p) AS m$j" }
      .mkString(",\n      |    ")
    val sigConcat = (0 until 16).map(j => s"CAST(m$j AS VARCHAR)")
      .mkString(" || ',' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |                             x -> x <> '') AS ws
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 3
       |    THEN list_transform(range(1, len(ws) - 1),
       |           i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
       |    ELSE [array_to_string(ws, ' ')] END) AS shingle
       |  FROM toks),
       |h AS (
       |  SELECT doc_id, list_reduce(list_transform(generate_series(1, 15),
       |    i -> CAST(strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1 AS BIGINT)),
       |    (a, b) -> a * 16 + b) % $p AS h
       |  FROM sh),
       |m AS (
       |  SELECT doc_id, $minExprs
       |  FROM h GROUP BY doc_id)
       |SELECT doc_id, $sigConcat AS sig FROM m ORDER BY doc_id""".stripMargin
  }

  /** SimHash signatures via the engine-portable md5-based 60-bit
    * variant — the signature VALUES are oracle-checked bit-for-bit
    * against the DuckDB reimplementation ([[portableSimhashCte]]).
    * The native xxhash `simhash64` expression is covered by
    * TextHashSpec/DedupSpec. */
  def q29SimhashSig(s: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.portableSimhash60(t(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("sig"))
      .orderBy("doc_id")

  val q29Sql: String =
    s"""WITH $portableSimhashCte
       |SELECT doc_id, sig FROM sig ORDER BY doc_id""".stripMargin

  /** C9/D4: fuzzy Levenshtein closest-match of every distinct p_type
    * against a canonical vocabulary (the configured FuzzyMatch step the
    * reference declares but never wired up — here the real thing). */
  private val fuzzyCanon = Seq(
    "ECONOMY ANODIZED STEEL", "LARGE BURNISHED COPPER",
    "MEDIUM PLATED BRASS", "PROMO POLISHED NICKEL", "STANDARD BRUSHED TIN")

  def q33Fuzzy(s: SparkSession, dir: String): DataFrame =
    Similarity.closestMatch(
      t(s, dir, "part").select("p_type").distinct(), "p_type", fuzzyCanon)
      .orderBy("p_type")

  val q33Sql: String = {
    val lst = fuzzyCanon.sorted.map(c => s"'$c'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT DISTINCT p_type FROM part),
       |c AS (SELECT unnest($lst) AS cand),
       |d AS (SELECT p_type, cand, levenshtein(p_type, cand) AS dist FROM t, c),
       |r AS (SELECT p_type, cand, dist,
       |  row_number() OVER (PARTITION BY p_type ORDER BY dist, cand) rn FROM d)
       |SELECT p_type, cand AS matched, CAST(dist AS BIGINT) AS dist
       |FROM r WHERE rn = 1 ORDER BY p_type""".stripMargin
  }

  /** E9/H6: mean imputation with a sentinel-derived missing pattern
    * (negative balance treated as unknown). The mean is computed as an
    * exact decimal sum / count so both engines agree bit-for-bit. */
  def q34Impute(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").withColumn("bal",
      when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")))
    val stats = broadcast(c.agg(dmean(col("bal")).as("m")))
    c.crossJoin(stats)
      .select(col("c_custkey"), round(coalesce(col("bal"), col("m")), 6).as("bal_imp"))
      .orderBy("c_custkey")
  }

  val q34Sql: String =
    """SELECT c_custkey, round(coalesce(bal, m), 6) AS bal_imp
      |FROM (SELECT c_custkey,
      |        CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
      |      FROM customer),
      |     (SELECT CAST(sum(CAST(CASE WHEN c_acctbal < 0 THEN NULL
      |               ELSE c_acctbal END AS DECIMAL(18,2))) AS DOUBLE) /
      |             count(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END) AS m
      |      FROM customer)
      |ORDER BY c_custkey""".stripMargin

  /** H3: one-hot encoding over the declared category domain (unknown →
    * all zeros) — map-side projections only. */
  private val mktSegments = Seq(
    "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def q35OneHot(s: SparkSession, dir: String): DataFrame =
    Features.oneHot(t(s, dir, "customer"), "c_mktsegment", mktSegments)
      .select((Seq(col("c_custkey")) ++
        mktSegments.map(v => col(s"c_mktsegment_$v"))): _*)
      .orderBy("c_custkey")

  val q35Sql: String = {
    val flags = mktSegments.map(v =>
      s"CASE WHEN c_mktsegment = '$v' THEN 1 ELSE 0 END AS c_mktsegment_$v")
      .mkString(",\n ")
    s"""SELECT c_custkey,
       | $flags
       |FROM customer ORDER BY c_custkey""".stripMargin
  }

  /** The flagship ETL end-to-end (SURVEY §3.2): an ESI-shaped stream is
    * derived deterministically from orders, then runs the REAL pipeline —
    * cleaning chain (sentinel null, trim/lower, Spanish-month map, date
    * concat), five surrogate-key dimension builds, broadcast FK
    * resolution, null-safe entrada/salida router — and the facts are
    * star-joined back to dims for the final cube cell. The oracle
    * replays the same semantics directly on natural keys: surrogate
    * machinery must cancel out exactly (SURVEY §7.4.1's parity rule). */
  def q36EsiEtl(s: SparkSession, dir: String): DataFrame = {
    import graft.etl.EsiEtl
    val wh = EsiEtl.buildWarehouse(EsiEtl.clean(q36Raw(s, dir)))
    val facts = wh.factInmigrante.withColumn("fact", lit("inmigrante"))
      .unionByName(wh.factEmigrante.withColumn("fact", lit("emigrante")))
    facts
      .join(broadcast(wh.dims("dim_transporte")), Seq("id_transporte"))
      .join(broadcast(wh.dims("dim_persona")), Seq("id_persona"))
      .join(broadcast(wh.dims("dim_fecha")), Seq("id_fecha"))
      .groupBy(col("fact"), col("mes_movi"), col("via_tran"), col("sex_migr"))
      .agg(count(lit(1)).as("cnt"),
        round(dmean(col("edad")), 6).as("avg_edad"))
      .orderBy("fact", "mes_movi", "via_tran", "sex_migr")
  }

  /** The deterministic ESI-shaped stream q36 derives from orders. */
  private def q36Raw(s: SparkSession, dir: String): DataFrame =
    // t() already fans out the single-row-group orders scan, so the
    // regex-heavy cleaning chain runs spread across the cluster
    q36RawFromOrders(t(s, dir, "orders"))

  /** [[q36Raw]] over an explicit orders frame — lets [[ScaleProbe]]
    * feed a replicated corpus through the identical derivation. */
  private[graft] def q36RawFromOrders(o: DataFrame): DataFrame = {
    import graft.etl.Cleaning
    o.select(
      when(col("o_orderstatus") === "O", lit(" Entrada "))
        .otherwise(lit("salida")).as("tip_movi"),
      year(col("o_orderdate")).as("anio_movi"),
      Cleaning.valueMap(month(col("o_orderdate")).cast("string"),
        Cleaning.monthNamesEs).as("mes_movi"),
      dayofmonth(col("o_orderdate")).as("dia_movi"),
      when(col("o_orderkey") % 2 === 0, "M").otherwise("F").as("sex_migr"),
      col("o_orderpriority").as("nac_migr"),
      when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "aerea")
        .when(col("o_orderpriority") === "3-MEDIUM", "terrestre")
        .otherwise("maritima").as("via_tran"),
      concat(lit(" jef-"), (col("o_custkey") % 5).cast("string")).as("jef_migr"),
      concat(lit("pro-"), (col("o_custkey") % 3).cast("string")).as("pro_jefm"),
      concat(lit("can-"), (col("o_custkey") % 4).cast("string")).as("can_jefm"),
      when(col("o_orderkey") % 11 === 0, "Estudiante")
        .when(col("o_orderkey") % 11 === 1, "INGENIERO")
        .otherwise("viajero frecuente").as("ocu_migr"),
      when(col("o_orderkey") % 7 === 0, lit("sin especificar"))
        .otherwise((col("o_custkey") % 80 + 1).cast("string")).as("edad"))
  }

  val q36Sql: String =
    """WITH raw AS (SELECT
      |  CASE WHEN o_orderstatus = 'O' THEN ' Entrada ' ELSE 'salida' END AS tip_movi,
      |  CAST(month(o_orderdate) AS INT) AS mes_movi,
      |  CASE WHEN o_orderkey % 2 = 0 THEN 'M' ELSE 'F' END AS sex_migr,
      |  CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'aerea'
      |       WHEN o_orderpriority = '3-MEDIUM' THEN 'terrestre'
      |       ELSE 'maritima' END AS via_tran,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       ELSE CAST(o_custkey % 80 + 1 AS INT) END AS edad
      | FROM orders)
      |SELECT CASE WHEN lower(trim(tip_movi)) = 'entrada'
      |            THEN 'inmigrante' ELSE 'emigrante' END AS fact,
      | mes_movi, via_tran, sex_migr, count(*) AS cnt,
      | round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE) / count(edad), 6)
      |   AS avg_edad
      |FROM raw GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin

  /** C4 side channel: values the classification dictionary does not
    * cover, normalized and distinct (`preprocessing.py:325-327`). */
  def q37Unmapped(s: SparkSession, dir: String): DataFrame =
    graft.etl.Cleaning.unmappedValues(t(s, dir, "customer"), "c_mktsegment",
      Map("automobile" -> "x", "building" -> "x"))
      .orderBy("unmapped")

  val q37Sql: String =
    """SELECT DISTINCT
      | trim(regexp_replace(strip_accents(lower(c_mktsegment)), '\s+', ' ', 'g')) AS unmapped
      |FROM customer
      |WHERE c_mktsegment IS NOT NULL
      |  AND trim(regexp_replace(strip_accents(lower(c_mktsegment)), '\s+', ' ', 'g'))
      |      NOT IN ('automobile', 'building')
      |ORDER BY 1""".stripMargin

  /** E5-extension: distinct-count aggregation (plans as a two-phase
    * partial/final expand aggregate — no row collection). */
  def q38Distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(count_distinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  val q38Sql: String =
    """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust,
      | count(*) AS n_orders
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** E4-extension: full CUBE over two dimensions with grouping_id — all
    * 2^n subtotal combinations (the cross-hierarchy "All" members the
    * Mondrian schema exposes across cubes). */
  def q39Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(year(col("o_orderdate")).as("y"), col("o_orderstatus"),
        col("o_totalprice"))
      .cube(col("y"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"),
        grouping_id().cast("long").as("lvl"))
      .orderBy(col("lvl"), col("y").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  val q39Sql: String =
    """SELECT y, o_orderstatus, count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      | CAST(2*GROUPING(y) + GROUPING(o_orderstatus) AS BIGINT) AS lvl
      |FROM (SELECT CAST(year(o_orderdate) AS INT) y, o_orderstatus,
      |             o_totalprice FROM orders)
      |GROUP BY CUBE(y, o_orderstatus)
      |ORDER BY lvl, y NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  /** F/E-extension: per-key running total (cumulative window frame) —
    * decimal-exact so the prefix sums match DuckDB bit-for-bit. */
  def q40Running(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast(dec2)).over(w).cast("double").as("run_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val q40Sql: String =
    """SELECT o_custkey, o_orderkey,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_total
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** As-of join (graft.operators.AsOfJoin): each click gets the latest
    * error at-or-before it for the same user — point-in-time feature
    * attachment. Oracle is DuckDB's native ASOF LEFT JOIN. */
  def q41AsOf(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    // pre-dedup simultaneous errors per (user, ts) keeping the max
    // event_id: AsOfJoin's tie-break is deterministic but DuckDB ASOF's
    // choice among equal timestamps is not specified — after the dedup
    // both engines see a unique row per timestamp
    val errors = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("err_id"),
        max_by(col("value"), col("event_id")).as("err_value"))
    graft.operators.AsOfJoin
      .asOf(clicks, errors, "user_id", "ts", Seq("err_id", "err_value"), "err_id")
      .select("event_id", "user_id", "err_id", "err_value")
      .orderBy("event_id")
  }

  val q41Sql: String =
    """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |e AS (SELECT user_id, ts, max(event_id) AS err_id,
      |        arg_max(value, event_id) AS err_value
      |      FROM events WHERE event_type = 'error' GROUP BY 1, 2)
      |SELECT c.event_id, c.user_id, e.err_id, e.err_value
      |FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts >= e.ts
      |ORDER BY c.event_id""".stripMargin

  /** Semi-structured extraction: pull a typed field out of the JSON
    * props column and aggregate — `get_json_object` is codegen'd, no
    * UDF, and the projection prunes every other column at the scan. */
  def q42Json(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n"))
      .orderBy("event_type")

  val q42Sql: String =
    """SELECT event_type,
      | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      | count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** F4/I2-extension: deterministic hash sampling — engine-portable
    * (md5 of the key), unlike seeded rand(); the same rows are sampled
    * by any engine, any partitioning, any run. */
  def q43Sample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(Features.hashSample(col("o_orderkey"), "15"))
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")

  val q43Sql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '15'
      |ORDER BY o_orderkey""".stripMargin

  /** IVF ANN top-k with the deterministic sample-init quantizer
    * (centroids = vectors of ids 0..7): every stage — cell assignment,
    * probe-cell choice, candidate re-rank — is recomputed bit-for-bit
    * by the DuckDB oracle, so the APPROXIMATE search itself is
    * oracle-checked, not merely rows-counted. The KMeans-refined
    * quantizer (`ivfFit`) is spec-asserted in SimilaritySpec. */
  def q44IvfTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val model = Similarity.ivfFitSample(e, "vec_id", "embedding", nlist = 8)
    Similarity.ivfTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") === 0).limit(1), k = 10, model, nprobe = 4)
  }

  /** DuckDB mirror of the whole IVF pipeline. Distances use the SAME
    * expanded form ‖c‖² − 2⟨v,c⟩ with identical left-to-right float
    * folds as `Similarity.ivfCell`/`probeCells`, so cell choices agree
    * bit-for-bit; ties break by cell id in both engines. */
  val q44Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
      |a AS (SELECT v.vec_id, v.e, c.cid,
      |        row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |          list_dot_product(c.ce, c.ce) - 2 * list_dot_product(v.e, c.ce), c.cid) AS rn
      |      FROM v CROSS JOIN c),
      |cells AS (SELECT vec_id, e, cid AS cell FROM a WHERE rn = 1),
      |p AS (SELECT e AS pe FROM v WHERE vec_id = 0),
      |pc AS (SELECT c.cid, row_number() OVER (ORDER BY
      |         list_dot_product(c.ce, c.ce) - 2 * list_dot_product(p.pe, c.ce), c.cid) AS rn
      |       FROM c CROSS JOIN p),
      |probed AS (SELECT cid FROM pc WHERE rn <= 4)
      |SELECT cells.vec_id, round(list_dot_product(cells.e, p.pe) /
      |  (sqrt(list_dot_product(cells.e, cells.e)) * sqrt(list_dot_product(p.pe, p.pe))), 6) AS cosine
      |FROM cells JOIN probed ON cells.cell = probed.cid CROSS JOIN p
      |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** Range (point-in-interval) join via graft.operators.RangeJoin:
    * clicks counted inside each error's 10-minute window per user —
    * bucketized equi-join, never a nested loop. Oracle is the naive
    * BETWEEN join in DuckDB. */
  def q45Range(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("err_id"),
        unix_timestamp(col("ts")).as("s"),
        (unix_timestamp(col("ts")) + 600).as("e"))
    graft.operators.RangeJoin
      .pointInInterval(clicks, "t", errors, "s", "e", Seq("user_id"), 600L)
      .groupBy(col("err_id")).agg(count(lit(1)).as("n_clicks"))
      .orderBy("err_id")
  }

  val q45Sql: String =
    """WITH c AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
      |           FROM events WHERE event_type = 'click'),
      |e AS (SELECT user_id, event_id AS err_id,
      |        CAST(floor(epoch(ts)) AS BIGINT) AS s
      |      FROM events WHERE event_type = 'error')
      |SELECT e.err_id, count(*) AS n_clicks
      |FROM e JOIN c ON c.user_id = e.user_id
      |              AND c.t >= e.s AND c.t <= e.s + 600
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** H10/C7/C8/E1: the reference's regression forecast as one plan —
    * daily event counts → closed-form OLS on the proleptic ordinal →
    * 30-day future frame with predictions. Closed-form fit
    * (covar_pop/var_pop) is exactly what DuckDB's regr_slope computes,
    * so the whole forecast is oracle-checkable; an iterative solver
    * would not be. */
  def q46Forecast(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
    graft.ml.Drivers.forecastDaily(daily, "d", "c", horizon = 30)
      .select(col("d"), round(col("predicted"), 6).as("predicted"))
      .orderBy("d")
  }

  val q46Sql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS c
      |               FROM events GROUP BY 1),
      |fit AS (SELECT regr_slope(y, x) AS s, regr_intercept(y, x) AS i
      |        FROM (SELECT CAST(d - DATE '0001-01-01' + 1 AS DOUBLE) AS x,
      |                     CAST(c AS DOUBLE) AS y FROM daily)),
      |last AS (SELECT max(d) AS d0 FROM daily)
      |SELECT CAST(f.d AS DATE) AS d,
      |       round(i + s * CAST(CAST(f.d AS DATE) - DATE '0001-01-01' + 1
      |             AS DOUBLE), 6) AS predicted
      |FROM last, fit,
      |     (SELECT unnest(generate_series(
      |        (SELECT d0 FROM last) + 1,
      |        (SELECT d0 FROM last) + 30, INTERVAL 1 DAY)) AS d) f
      |ORDER BY d""".stripMargin

  /** D3-incremental: the CombinationLookup append semantic — an initial
    * dimension load keeps its ids; a second load's NEW natural keys get
    * ids above the previous max, in canonical order (SURVEY §7.4.1,
    * the one inherently sequential ETL semantic). Both loads and the
    * final id assignment are deterministic, so the full table is
    * oracle-checkable including the id values. */
  def q47DimAppend(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    val first = part.filter(col("p_size") < 25)
    val second = part.filter(col("p_size") >= 25)
    val d1 = SurrogateKeys.dim(first, Seq("p_brand", "p_type"), "id")
    SurrogateKeys.dimAppend(d1, second, Seq("p_brand", "p_type"), "id")
      .orderBy("id")
  }

  val q47Sql: String =
    """WITH p1 AS (SELECT DISTINCT p_brand, p_type FROM part WHERE p_size < 25),
      |d1 AS (SELECT p_brand, p_type,
      |         row_number() OVER (ORDER BY p_brand, p_type) AS id FROM p1),
      |p2 AS (SELECT DISTINCT p_brand, p_type FROM part WHERE p_size >= 25),
      |fresh AS (SELECT a.p_brand, a.p_type FROM p2 a
      |          LEFT JOIN p1 b ON a.p_brand = b.p_brand AND a.p_type = b.p_type
      |          WHERE b.p_brand IS NULL),
      |d2 AS (SELECT p_brand, p_type,
      |         coalesce((SELECT max(id) FROM d1), 0) +
      |         row_number() OVER (ORDER BY p_brand, p_type) AS id FROM fresh)
      |SELECT p_brand, p_type, id FROM d1
      |UNION ALL SELECT p_brand, p_type, id FROM d2
      |ORDER BY id""".stripMargin

  /** E7: grouped sampling, deterministic variant — k rows per market
    * segment drawn by md5 rank, so the sample is identical on any
    * engine/partitioning (the portable face of seeded
    * `groupby.apply(sample)`). */
  def q48GroupSample(s: SparkSession, dir: String): DataFrame =
    Features.groupedSampleHash(
      t(s, dir, "customer").select("c_mktsegment", "c_custkey"),
      "c_mktsegment", "c_custkey", k = 5)
      .orderBy("c_mktsegment", "c_custkey")

  val q48Sql: String =
    """SELECT c_mktsegment, c_custkey FROM (
      |  SELECT c_mktsegment, c_custkey,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rn
      |  FROM customer)
      |WHERE rn <= 5 ORDER BY c_mktsegment, c_custkey""".stripMargin

  /** E-extension: exact percentiles (median / p90) per group —
    * percentile_cont linear interpolation, identical formula in both
    * engines; inputs are exact 2-decimal values so the interpolation
    * is deterministic. */
  def q49Percentile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)"), 6)
          .as("p50"),
        round(expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice)"), 6)
          .as("p90"))
      .orderBy("o_orderstatus")

  val q49Sql: String =
    """SELECT o_orderstatus,
      | round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 6) AS p50,
      | round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 6) AS p90
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** G/E-extension: ordered string aggregation (the LISTAGG shape) —
    * sorted distinct values joined with a separator, deterministic by
    * construction. */
  def q50StringAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .groupBy(col("n_regionkey"))
      .agg(array_join(sort_array(collect_set(col("n_name"))), ",").as("nations"))
      .orderBy("n_regionkey")

  val q50Sql: String =
    """SELECT n_regionkey, string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations
      |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin

  /** B/E-extension: pivot — status categories become columns (the
    * crosstab face of the cube; Spark plans it as a single aggregate
    * with one output column per pivot value, no per-value scans). */
  def q51Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(year(col("o_orderdate")).as("y"), col("o_orderstatus"))
      .groupBy(col("y"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("y")

  val q51Sql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS y,
      | count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
      | count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
      | count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-corpus scratch location for materialized ANN indexes
    * (committed-cache semantics: first run builds, later runs probe).
    * The key is a CONTENT fingerprint of the source table — total
    * length + latest mtime of the embeddings parquet — not just the
    * directory path: regenerated data at the same path must invalidate
    * the index, or probes would silently serve top-k of a dead corpus. */
  private def indexDir(s: SparkSession, dir: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val stats = fs.listStatus(p)
    val fp = (dir.hashCode.toLong * 1000003L) ^
      stats.map(x => x.getLen * 31L + x.getModificationTime).sum
    // two-level layout: <dirHash>/<contentHex> — pruning stays SCOPED
    // to stale versions of THIS corpus path. A flat prune of every
    // other fingerprint would delete the live index of a concurrent
    // run over a different corpus dir mid-probe.
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_index"
    val dirHex = java.lang.Integer.toHexString(dir.hashCode)
    val root = s"$base/$dirHex"
    val fpHex = java.lang.Long.toHexString(fp)
    // legacy flat-layout dirs (bare fingerprints directly under the
    // base, from before the two-level scheme) match no corpus subtree
    // and would otherwise leak in tmp forever; they are distinguishable
    // by holding index names (non-hex children) — just sweep any
    // top-level dir that is not an 8-hex-max dirHash
    val baseP = new org.apache.hadoop.fs.Path(base)
    if (fs.exists(baseP))
      fs.listStatus(baseP)
        .filter(st => st.isDirectory && st.getPath.getName.length > 8)
        .foreach(st => fs.delete(st.getPath, true))
    val rootP = new org.apache.hadoop.fs.Path(root)
    if (fs.exists(rootP))
      fs.listStatus(rootP)
        .filter(st => st.isDirectory && st.getPath.getName != fpHex)
        .foreach(st => fs.delete(st.getPath, true))
    s"$root/$fpHex/$name"
  }

  /** ANN probe against the MATERIALIZED LSH index: the corpus is
    * rewritten once partitioned by bucket (`Similarity.buildAnnIndex`,
    * cached across runs), and the probe prunes to the multiprobe
    * neighborhood at planning time — PartitionFilters on the scan, no
    * per-row re-hashing (PlanSpec asserts the pruning). Results are
    * identical to the scan formulation, so the oracle is the same
    * generated SQL shape as q27 at these parameters. */
  def q52AnnIndexed(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.annTopKIndexed(s, e, "vec_id", "embedding",
      e.filter(col("vec_id") === 0).limit(1), k = 10, bits = 8, dim = 64,
      multiprobe = 2, indexDir(s, dir, "ann_b8"))
  }

  val q52Sql: String = annOracleSql(bits = 8, multiprobe = 2)

  /** IVF probe against the MATERIALIZED cell-partitioned index: reads
    * `nprobe`/`nlist` of the corpus via partition pruning. Same
    * pipeline as q44, so the same oracle applies. */
  def q53IvfIndexed(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val model = Similarity.ivfFitSample(e, "vec_id", "embedding", nlist = 8)
    Similarity.ivfTopKIndexed(s, e, "vec_id", "embedding",
      e.filter(col("vec_id") === 0).limit(1), k = 10, model, nprobe = 4,
      indexDir(s, dir, "ivf_n8"))
  }

  val q53Sql: String = q44Sql

  /** Per-class precision/recall/F1/support (`Drivers.perClassReport` —
    * the classification_report analog) over a DETERMINISTIC rule
    * predictor, so the metric computation itself is oracle-checked:
    * model-based predictions aren't SQL-reproducible, but the report
    * operator is, and the specs cover it on real model output. */
  def q54ClassReport(s: SparkSession, dir: String): DataFrame = {
    val pred = t(s, dir, "orders").select(
      col("o_orderstatus").as("label"),
      when(col("o_totalprice") > 150000, lit("F")).otherwise(lit("O")).as("pred"))
    graft.ml.Drivers.perClassReport(pred, "label", "pred").orderBy("label")
  }

  val q54Sql: String =
    """WITH p AS (SELECT o_orderstatus AS label,
      |  CASE WHEN o_totalprice > 150000 THEN 'F' ELSE 'O' END AS pred FROM orders),
      |bl AS (SELECT label, count(*) AS support,
      |  sum(CASE WHEN label = pred THEN 1 ELSE 0 END) AS tp FROM p GROUP BY label),
      |bp AS (SELECT pred AS label, count(*) AS predicted FROM p GROUP BY pred),
      |j AS (SELECT coalesce(bl.label, bp.label) AS label,
      |  coalesce(support, 0) AS support, coalesce(tp, 0) AS tp,
      |  coalesce(predicted, 0) AS predicted
      |  FROM bl FULL OUTER JOIN bp ON bl.label = bp.label),
      |m AS (SELECT label, support,
      |  CAST(tp AS DOUBLE) / nullif(predicted, 0) AS p,
      |  CAST(tp AS DOUBLE) / nullif(support, 0) AS r FROM j)
      |SELECT label, round(coalesce(p, 0), 6) AS precision,
      |  round(coalesce(r, 0), 6) AS recall,
      |  round(coalesce(2.0 * p * r / nullif(p + r, 0), 0), 6) AS f1,
      |  CAST(support AS BIGINT) AS support
      |FROM m ORDER BY label""".stripMargin

  /** End-to-end corpus curation — the filter chain every LLM training
    * pipeline runs before tokenization: exact-dedup (keep the lowest id
    * per identical text), language gate, quality floor. Cost shape: two
    * scans of documents (one builds the keep-set from projected
    * (fingerprint, id) pairs in one dedup shuffle, one feeds the
    * broadcast semi-join of survivors); langid/quality are map-side
    * expressions Catalyst pushes below the join. */
  def q55Curation(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.dropExactDups(docs, "doc_id", "text")
      .select(col("doc_id"),
        TextOps.langId(col("text")).as("langid"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"))
      .filter(col("langid") === "en" && col("quality") >= 0.3)
      .orderBy("doc_id")
  }

  val q55Sql: String =
    s"""WITH kept AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
       |scored AS (SELECT d.doc_id, $langIdSql AS langid,
       |  round($qualityExprSql, 6) AS quality
       |  FROM documents d JOIN kept USING (doc_id))
       |SELECT doc_id, langid, quality FROM scored
       |WHERE langid = 'en' AND quality >= 0.3
       |ORDER BY doc_id""".stripMargin

  /** Corpus vocabulary statistics: top-20 terms by frequency — the
    * classic distributed word count (explode → hash agg with map-side
    * partial aggregation; one shuffle of (term, partial count)). */
  def q56Vocab(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(TextOps.regexTokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(20)

  val q56Sql: String =
    """SELECT term, count(*) AS cnt
      |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |      FROM documents)
      |GROUP BY term ORDER BY cnt DESC, term LIMIT 20""".stripMargin

  /** Symmetric int8 max-abs quantization of an embedding column — the
    * storage-scale path for vector corpora (4× smaller than float32;
    * dot products stay proportional within a per-vector scale). All
    * map-side expression work; the dump projects engine-checkable
    * aggregates of the quantized codes rather than the array itself
    * (array cells break the comparison harness — q28's lesson). */
  def q57Quantize(s: SparkSession, dir: String): DataFrame = {
    val v = col("embedding")
    val maxabs = array_max(transform(v, x => abs(x.cast("double"))))
    val q = transform(v,
      x => round(coalesce(try_divide(x.cast("double") * 127.0, maxabs), lit(0.0)))
        .cast("long"))
    t(s, dir, "embeddings")
      .select(col("vec_id"), round(maxabs, 6).as("scale_abs"),
        aggregate(q, lit(0L), (acc, x) => acc + x).as("q_sum"),
        array_min(q).as("q_min"), array_max(q).as("q_max"))
      .orderBy("vec_id")
  }

  val q57Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS maxabs FROM v),
      |q AS (SELECT vec_id, maxabs,
      |  list_transform(e, x -> CAST(round(coalesce(x * 127.0 / nullif(maxabs, 0), 0)) AS BIGINT)) AS qs
      |  FROM m)
      |SELECT vec_id, round(maxabs, 6) AS scale_abs,
      |  CAST(coalesce(list_sum(qs), 0) AS BIGINT) AS q_sum,
      |  list_min(qs) AS q_min, list_max(qs) AS q_max
      |FROM q ORDER BY vec_id""".stripMargin

  /** Tensor preparation (`TensorPrep`): alphabetical label codes for
    * target and categorical, standardized float32 numeric — the whole
    * deep-learning encoder pipeline oracle-checked value-for-value
    * (the float32 narrowing is replicated in SQL via CAST(.. AS FLOAT),
    * so even the precision loss must agree). */
  def q58TensorPrep(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val enc = graft.ml.TensorPrep.fit(o, "o_orderstatus",
      catCols = Seq("o_orderpriority"), numCols = Seq("o_totalprice"))
    graft.ml.TensorPrep.transform(o, enc)
      .select(col("o_orderkey"), col("y"),
        col("x_cat").getItem(0).as("cat0"),
        round(col("x_num").getItem(0).cast("double"), 6).as("num0"))
      .orderBy("o_orderkey")
  }

  val q58Sql: String =
    """WITH d AS (SELECT * FROM orders WHERE o_orderstatus IS NOT NULL),
      |tc AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS code
      |       FROM (SELECT DISTINCT o_orderstatus AS v FROM d)),
      |cc AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS code
      |       FROM (SELECT DISTINCT o_orderpriority AS v FROM d)),
      |st AS (SELECT avg(CAST(o_totalprice AS DOUBLE)) AS m,
      |              stddev_samp(CAST(o_totalprice AS DOUBLE)) AS sd FROM d)
      |SELECT o_orderkey, tc.code AS y, coalesce(cc.code, 0) AS cat0,
      |  round(CAST(CAST((CAST(o_totalprice AS DOUBLE) - m) / sd AS FLOAT) AS DOUBLE), 6) AS num0
      |FROM d JOIN tc ON d.o_orderstatus = tc.v
      |       LEFT JOIN cc ON d.o_orderpriority = cc.v
      |       CROSS JOIN st
      |ORDER BY o_orderkey""".stripMargin

  /** Cross-document boilerplate detection — the CCNet/RefinedWeb-style
    * curation pass: a fragment appearing in many distinct documents is
    * template noise (headers, footers, licenses), not content. The
    * repetition unit is the word 3-gram (the n-gram template filter;
    * line/sentence units degenerate on single-sentence corpora like
    * this one). One explode + one (gram → distinct-doc count)
    * aggregation; at 100 TB the gram relation shuffles hashes, not
    * text, if the projection swaps in a fingerprint — here the gram
    * itself is kept because the output IS the boilerplate list.
    * `element_at` is 1-based and the sequence bounds keep every index
    * in range, so the expression is ANSI-safe. */
  def q59Boilerplate(s: SparkSession, dir: String): DataFrame = {
    val ws = col("ws")
    t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(ws) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(ws) - 2),
        i => concat_ws(" ", element_at(ws, i),
          element_at(ws, i + 1), element_at(ws, i + 2)))).as("gram"))
      .groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 4)
      .orderBy(col("n_docs").desc, col("gram"))
  }

  val q59Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
      |        i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS gram
      |      FROM w WHERE len(ws) >= 3)
      |SELECT gram, count(DISTINCT doc_id) AS n_docs
      |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 4
      |ORDER BY n_docs DESC, gram""".stripMargin

  /** Shared DuckDB CTE: whitespace tokens of the lowercased text (the
    * [[TextOps.tokens]]∘lower recipe) plus n-gram expansion with the
    * [[TextOps.wordShingles]] short-doc fallback (whole text as one
    * gram). */
  private def gramCte(n: Int): String = {
    val window = (0 until n).map(o => s"ws[i + $o]").mkString(" || ' ' || ")
    s"""toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |                             x -> x <> '') AS ws
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(CASE WHEN len(ws) >= $n
       |    THEN list_transform(range(1, len(ws) - ${n - 2}), i -> $window)
       |    ELSE [array_to_string(ws, ' ')] END) AS gram
       |  FROM toks)""".stripMargin
  }

  /** Benchmark decontamination (`Decontaminate`): training documents
    * sharing any word 4-gram with the held-out eval set (doc_id < 10
    * plays the benchmark) are contaminated — the GPT-3 13-gram hygiene
    * rule at a width matched to this corpus's vocabulary. The corpus
    * side streams through a broadcast-hash SEMI join of the benchmark's
    * gram set; nothing O(corpus) shuffles. */
  def q60Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.text.Decontaminate.contaminatedIds(
      docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
      "doc_id", "text", n = 4)
      .orderBy("doc_id")
  }

  val q60Sql: String =
    s"""WITH ${gramCte(4)},
       |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 10)
       |SELECT DISTINCT doc_id FROM grams
       |WHERE doc_id >= 10 AND gram IN (SELECT gram FROM bench)
       |ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition metrics (`TextOps.repetitionMetrics`):
    * duplicate-bigram fraction and top-bigram share per document — the
    * within-doc quality rules that catch keyword stuffing and template
    * spam that cross-doc dedup misses. */
  def q61Repetition(s: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.repetitionMetrics(
      t(s, dir, "documents"), "doc_id", "text", n = 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  val q61Sql: String =
    s"""WITH ${gramCte(2)},
       |c AS (SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
       |  round(1.0 - count(*) / CAST(sum(cnt) AS DOUBLE), 6) AS dup_frac,
       |  round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 6) AS top_frac
       |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** PII redaction (`Redact.scrub`): customer names scrubbed of long
    * digit runs (+ the email/IPv4 families of the default scrub chain),
    * with per-row redaction counts — entirely map-side regex work, and
    * the RE2-safe patterns let the oracle re-run the identical scrub. */
  def q62Redact(s: SparkSession, dir: String): DataFrame =
    graft.text.Redact.scrub(
      t(s, dir, "customer").select("c_custkey", "c_name"), "c_name")
      .select(col("c_custkey"), col("redacted"),
        graft.text.Redact.totalRedactions().as("n_redacted"))
      .orderBy("c_custkey")

  val q62Sql: String = {
    val pats = graft.text.Redact.defaultPatterns
    val scrub = pats.foldLeft("c_name") { case (e, (_, p, r)) =>
      s"regexp_replace($e, '$p', '$r', 'g')"
    }
    val counts = pats.map { case (_, p, _) =>
      s"len(regexp_extract_all(c_name, '$p'))"
    }.mkString(" + ")
    s"""SELECT c_custkey, $scrub AS redacted,
       |  CAST($counts AS BIGINT) AS n_redacted
       |FROM customer ORDER BY c_custkey""".stripMargin
  }

  /** Token-budget sequence packing (`PrefixSum.packBudget`): documents
    * fill fixed 2048-token training packs in id order via the
    * DISTRIBUTED two-phase prefix sum — never the single-partition
    * global window (the bucketWidth keeps several buckets live even at
    * sf0.01 so the multi-bucket offset path is what's verified). */
  def q63Pack(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      size(graft.text.TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.operators.PrefixSum
      .packBudget(docs, "doc_id", "n_tokens", budget = 2048L, bucketWidth = 100L)
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))
      .orderBy("pack_id")
  }

  val q63Sql: String =
    """WITH d AS (SELECT doc_id,
      |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |  sum(n_tokens) OVER (ORDER BY doc_id) AS cum FROM d),
      |p AS (SELECT doc_id, n_tokens,
      |  CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id FROM c)
      |SELECT pack_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
      |FROM p GROUP BY pack_id ORDER BY pack_id""".stripMargin

  /** Near-dup CLUSTERS (`Dedup.dupClusters`): connected components over
    * the q23 pair relation — pairwise matches become transitive dedup
    * groups (cluster = component min id). The oracle recomputes the
    * exact pair set AND the components with a recursive CTE, so the
    * iterative min-label propagation is value-checked end-to-end. */
  def q64DupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.nearDupPairs(
      t(s, dir, "documents"), "doc_id", "text", threshold = 0.9)
    Dedup.dupClusters(pairs)
      .select(col("id").as("doc_id"), col("cluster"))
      .orderBy("doc_id")
  }

  /** Word-3-shingle set per doc (t, s CTEs) — the exact-shingle base
    * shared by the q64/q153/q154/q177 oracles, parameterized by the
    * source relation so the q177 pipeline can run it over the
    * exact-dedup SURVIVORS instead of raw documents. */
  private def shingleCteSqlFrom(src: String): String =
    s"""t AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x->x<>'') toks FROM $src),
      |s AS (SELECT doc_id, CASE WHEN len(toks) >= 3
      |  THEN list_distinct(list_transform(generate_series(1, len(toks)-2),
      |       i -> array_to_string(list_slice(toks, i, i+2), ' ')))
      |  ELSE [array_to_string(toks, ' ')] END sh FROM t)""".stripMargin

  private val shingleCteSql: String = shingleCteSqlFrom("documents")

  /** The q64 connected-components CTE chain (exact pairwise Jaccard →
    * edges → min-label reachability) — shared with the q153/q177
    * oracles. */
  private def dupClusterCteSqlFrom(src: String): String =
    s"""${shingleCteSqlFrom(src)},
      |p AS (SELECT a.doc_id id_a, b.doc_id id_b,
      |  CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE) /
      |    (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))) jaccard
      |  FROM s a, s b WHERE a.doc_id < b.doc_id),
      |e AS (SELECT id_a, id_b FROM p WHERE jaccard >= 0.9),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM e
      |          UNION SELECT id_b, id_a FROM e),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |reach(id, label) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e2.dst, r.label FROM reach r JOIN edges e2 ON e2.src = r.id
      |  WHERE r.label < e2.dst)""".stripMargin

  private val dupClusterCteSql: String = dupClusterCteSqlFrom("documents")

  val q64Sql: String =
    s"""WITH RECURSIVE $dupClusterCteSql
      |SELECT id AS doc_id, min(label) AS cluster
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Approximate distinct counting with an ORACLE-CHECKED error bound:
    * HyperLogLog++ (`approx_count_distinct`, rsd 2%) per event type,
    * verified in-plan against the exact count — the output carries the
    * exact value and the bound verdict, so the oracle (which computes
    * the exact side and expects `true`) fails the round if the sketch
    * ever drifts outside ±5%. The sketch itself is the 100 TB path:
    * fixed-size state, no shuffle of distinct values. */
  def q65ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_n"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("__approx"))
      .select(col("event_type"), col("exact_n"),
        (abs(col("__approx") - col("exact_n")) <=
          col("exact_n") * lit(0.05)).as("within_5pct"))
      .orderBy("event_type")

  val q65Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS exact_n, true AS within_5pct
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** BPE pair counting (`TextOps.bpePairCounts`): the top-20 adjacent
    * character pairs over the frequency-weighted vocabulary — tokenizer
    * training's merge-candidate scan, corpus-collapsed before any
    * character work. */
  def q66BpePairs(s: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.bpePairCounts(t(s, dir, "documents"), "text")
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)

  val q66Sql: String =
    """WITH w AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |                                     x -> x <> '')) AS w FROM documents),
      |wc AS (SELECT w, count(*) AS cnt FROM w GROUP BY w),
      |p AS (SELECT unnest(list_transform(range(1, length(w)),
      |              i -> substr(w, i, 2))) AS pair, cnt
      |      FROM wc WHERE length(w) >= 2)
      |SELECT pair, CAST(sum(cnt) AS BIGINT) AS cnt
      |FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin

  /** Bigram language-model quality scoring — the CCNet-style
    * perplexity filter: score every document by the mean log
    * conditional probability of its bigrams under corpus-level bigram
    * statistics (here self-trained on the same corpus — production
    * trains on a held-out reference corpus; the machinery is
    * identical). Two vocabulary-sized count tables join back against
    * the exploded doc bigrams — the corpus collapses before the join,
    * and the per-doc average is one more shuffle on doc_id. */
  def q67LmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bi = docs.select(col("doc_id"),
      explode(TextOps.wordShingles(lower(col("text")), 2)).as("bg"))
      .filter(size(split(col("bg"), " ")) === 2)
    val bgCounts = bi.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val w1Counts = bi
      .select(substring_index(col("bg"), " ", 1).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    bi.join(bgCounts, Seq("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(w1Counts, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(try_divide(col("c2"), col("c1")))), 6).as("avg_logp"))
      .orderBy("doc_id")
  }

  val q67Sql: String =
    s"""WITH ${gramCte(2)},
       |bg AS (SELECT doc_id, gram AS bg FROM grams
       |       WHERE len(string_split(gram, ' ')) = 2),
       |c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
       |c1 AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS c1
       |       FROM bg GROUP BY 1)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  round(avg(ln(CAST(c2.c2 AS DOUBLE) / c1.c1)), 6) AS avg_logp
       |FROM bg JOIN c2 USING (bg)
       |        JOIN c1 ON string_split(bg.bg, ' ')[1] = c1.w1
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Column profiling (`Profile.profile`): null counts and exact
    * distinct cardinalities for every customer column in ONE
    * aggregation pass, long-format output (the new-delivery QA gate;
    * the HLL variant is the 100 TB path, exact here so the oracle
    * matches numbers, not estimates). */
  def q68Profile(s: SparkSession, dir: String): DataFrame =
    graft.etl.Profile.profile(
      t(s, dir, "customer"),
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
      .orderBy("column")

  val q68Sql: String = {
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    cols.map(c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct FROM customer""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  /** Forward-fill imputation (`Features.forwardFill`): sparse event
    * attribute (value only on 'click' rows) carried forward per user in
    * event order — LOCF over a per-key running frame, never a global
    * sort. */
  def q69Ffill(s: SparkSession, dir: String): DataFrame =
    Features.forwardFill(
      t(s, dir, "events")
        .filter(col("user_id") < 50)
        .select(col("user_id"), col("event_id"),
          when(col("event_type") === "click", col("value")).as("v")),
      "user_id", Seq("event_id"), "v", "v_filled")
      .select(col("user_id"), col("event_id"),
        round(col("v_filled"), 6).as("v_filled"))
      .orderBy("user_id", "event_id")

  val q69Sql: String =
    """SELECT user_id, event_id,
      |  round(last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_filled
      |FROM events WHERE user_id < 50
      |ORDER BY user_id, event_id""".stripMargin

  /** Token-window chunking (`TextOps.chunkTokens`): 32-token windows
    * with 4-token overlap — the context-length splitter for training
    * and retrieval, one row per chunk, all map-side. */
  def q70Chunk(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
      size = 32, overlap = 4)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("n_chunk_tokens"), col("chunk"))
      .orderBy("doc_id", "chunk_idx")

  val q70Sql: String =
    """WITH t AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
      |  FROM documents),
      |st AS (SELECT doc_id, ws,
      |  range(1, greatest(1, len(ws) - 4) + 1, 28) AS starts FROM t),
      |c AS (SELECT doc_id,
      |  unnest(list_transform(starts, s -> array_to_string(list_slice(ws, s, s + 31), ' '))) AS chunk,
      |  generate_subscripts(starts, 1) - 1 AS chunk_idx
      |  FROM st)
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |  CAST(len(list_filter(string_split(chunk, ' '), x -> x <> '')) AS BIGINT) AS n_chunk_tokens,
      |  chunk
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** SCD Type-2 dimension build (`Scd.scd2FromChangeLog`): each
    * customer's order-priority history collapses into validity-interval
    * episodes (consecutive unchanged states merge; `valid_to` = next
    * episode's start, open while current) — the temporal face of the
    * D3 surrogate-key dimensions, one shuffle, windows share one sort. */
  def q71Scd2(s: SparkSession, dir: String): DataFrame =
    graft.etl.Scd.scd2FromChangeLog(
      t(s, dir, "orders").filter(col("o_custkey") < 100)
        .select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"),
      keyCols = Seq("o_custkey"), attrCols = Seq("o_orderpriority"),
      orderCols = Seq("o_orderdate", "o_orderkey"))
      .select(col("o_custkey"), col("o_orderpriority"),
        col("valid_from"), col("valid_to"), col("version"), col("is_current"))
      .orderBy("o_custkey", "version")

  val q71Sql: String =
    """WITH src AS (SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      |             FROM orders WHERE o_custkey < 100),
      |m AS (SELECT *, (row_number() OVER w = 1 OR
      |        o_orderpriority IS DISTINCT FROM lag(o_orderpriority) OVER w) AS keep
      |      FROM src
      |      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |e AS (SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      |      FROM m WHERE keep)
      |SELECT o_custkey, o_orderpriority, o_orderdate AS valid_from,
      |  lead(o_orderdate) OVER w2 AS valid_to,
      |  CAST(row_number() OVER w2 AS BIGINT) AS version,
      |  (lead(o_orderdate) OVER w2 IS NULL) AS is_current
      |FROM e
      |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, version""".stripMargin

  /** Set operations (§2.G beyond unions): customers active in 1995 but
    * not 1996 (EXCEPT) and active in both (INTERSECT) — Spark plans
    * both as aggregates/joins, no row-at-a-time set state. */
  def q72SetOps(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    def activeIn(y: Int) = o
      .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("date") &&
        col("o_orderdate") < lit(s"${y + 1}-01-01").cast("date"))
      .select(col("o_custkey"))
    val churned = activeIn(1995).except(activeIn(1996))
      .withColumn("status", lit("churned"))
    val retained = activeIn(1995).intersect(activeIn(1996))
      .withColumn("status", lit("retained"))
    churned.unionByName(retained).orderBy("status", "o_custkey")
  }

  val q72Sql: String =
    """WITH y95 AS (SELECT o_custkey FROM orders
      |            WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'),
      |y96 AS (SELECT o_custkey FROM orders
      |        WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01')
      |SELECT o_custkey, 'churned' AS status FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
      |UNION ALL
      |SELECT o_custkey, 'retained' AS status FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
      |ORDER BY status, o_custkey""".stripMargin

  /** Lag-based deltas — the OLAP serving staple (day-over-day change
    * per series): `lag` over a per-key ordered window, one shuffle. */
  def q73Delta(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("d"))
    t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(dsum(col("value"), dec6).as("daily"))
      .withColumn("prev", lag(col("daily"), 1).over(w))
      .select(col("event_type"), col("d"),
        round(col("daily"), 6).as("daily"),
        round(col("daily") - col("prev"), 6).as("delta"))
      .orderBy("event_type", "d")
  }

  val q73Sql: String =
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS d,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS daily
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, d, round(daily, 6) AS daily,
      |  round(daily - lag(daily) OVER (PARTITION BY event_type ORDER BY d), 6) AS delta
      |FROM d ORDER BY event_type, d""".stripMargin

  /** Robust outlier detection — median/MAD z-scores (resistant to the
    * very outliers being hunted, unlike mean/stddev): two exact
    * percentile aggregations (median, then median of absolute
    * deviations) and a map-side flag. The exact percentiles are the
    * oracle-parity path; at 100 TB swap `approx_percentile` in. */
  def q74Outliers(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    // med/mad are ROUNDED to the 6-decimal grid before the boundary
    // comparison: the two engines' percentile interpolations could
    // differ by an ulp, and an unrounded threshold would flip the flag
    // for a value sitting exactly on it (q49 establishes round-6
    // percentile parity)
    val med = c.agg(round(
      expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY c_acctbal)"), 6).as("m"))
      .head().getDouble(0)
    val mad = c.agg(round(
      expr(s"percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(c_acctbal - $med))"), 6)
      .as("mad"))
      .head().getDouble(0)
    c.select(col("c_custkey"), round(col("c_acctbal"), 6).as("c_acctbal"),
      (abs(col("c_acctbal") - lit(med)) > lit(3.0) * lit(mad))
        .as("is_outlier"))
      .orderBy("c_custkey")
  }

  val q74Sql: String =
    """WITH m AS (SELECT round(percentile_cont(0.5) WITHIN GROUP (ORDER BY c_acctbal), 6) AS med FROM customer),
      |md AS (SELECT round(percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(c_acctbal - med)), 6) AS mad
      |       FROM customer, m)
      |SELECT c_custkey, round(c_acctbal, 6) AS c_acctbal,
      |  (abs(c_acctbal - med) > 3.0 * mad) AS is_outlier
      |FROM customer, m, md ORDER BY c_custkey""".stripMargin

  /** Shared DuckDB fragment: the 60-bit (15 hex) md5 prefix of an
    * expression as BIGINT — the numeric face of the engine-portable
    * hash family (hashSample/kFolds/portable sigs). */
  private def md5BitsSql(e: String, hexDigits: Int): String =
    s"""list_reduce(list_transform(generate_series(1, $hexDigits),
       |    i -> CAST(strpos('0123456789abcdef', substr(md5($e), i, 1)) - 1 AS BIGINT)),
       |    (a, b) -> a * 16 + b)""".stripMargin

  /** Deterministic k-fold assignment (`Features.kFolds`): fold = md5
    * prefix mod k — the reproducible-forever CV split (no seed state,
    * stable under any partitioning; the engine-portable complement of
    * `randomSplit`). */
  def q75Folds(s: SparkSession, dir: String): DataFrame =
    Features.kFolds(
      t(s, dir, "orders").select("o_orderkey"), "o_orderkey", k = 5)
      .orderBy("o_orderkey")

  val q75Sql: String =
    s"""SELECT o_orderkey,
       |  ${md5BitsSql("CAST(o_orderkey AS VARCHAR)", 15)} % 5 AS fold
       |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Deterministic weighted sampling without replacement
    * (`Features.weightedSamplePerGroup`): Efraimidis–Spirakis
    * exponential race per market segment, weight = account balance —
    * high-value customers win proportionally more often, yet the draw
    * replays bit-for-bit in any engine. */
  def q76WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .withColumn("w", greatest(col("c_acctbal"), lit(1.0)))
    Features.weightedSamplePerGroup(c, "c_mktsegment", "c_custkey", "w", k = 5)
      .select("c_mktsegment", "c_custkey")
      .orderBy("c_mktsegment", "c_custkey")
  }

  val q76Sql: String =
    s"""WITH c AS (SELECT c_mktsegment, c_custkey,
       |  greatest(c_acctbal, 1.0) AS w FROM customer),
       |r AS (SELECT c_mktsegment, c_custkey,
       |  round(-ln((${md5BitsSql("CAST(c_custkey AS VARCHAR)", 13)} + 1.0)
       |            / 4503599627370497.0) / w, 9) AS race
       |  FROM c),
       |rk AS (SELECT c_mktsegment, c_custkey,
       |  row_number() OVER (PARTITION BY c_mktsegment
       |    ORDER BY race, c_custkey) AS rn FROM r)
       |SELECT c_mktsegment, c_custkey FROM rk WHERE rn <= 5
       |ORDER BY c_mktsegment, c_custkey""".stripMargin

  /** Character-entropy quality scoring (`TextOps.charEntropy`): the
    * low-information-blob detector (base64 runs, filler, binary spill)
    * — distributional, where q20's ratios are token-structural. */
  def q77Entropy(s: SparkSession, dir: String): DataFrame =
    TextOps.charEntropy(t(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_chars"), col("entropy"))
      .orderBy("doc_id")

  val q77Sql: String =
    """WITH ch AS (SELECT doc_id,
      |  unnest(list_transform(range(1, length(text) + 1),
      |                        i -> substr(text, i, 1))) AS ch
      |  FROM documents),
      |c AS (SELECT doc_id, ch, count(*) AS cnt FROM ch GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
      |  round(-sum(cnt * log2(cnt)) / sum(cnt) + log2(sum(cnt)), 6) AS entropy
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** TF-IDF top terms per document (`TextOps.tfidfTopTerms`): the
    * retrieval/keyword staple — sklearn-smooth IDF, vocab-sized IDF
    * table broadcast onto the (doc, term, tf) relation, hash-agg top-k
    * (no global window). */
  def q78Tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextOps.tfidfTopTerms(docs, "doc_id", "text", docs.count(), k = 3)
      .select(col("id").as("doc_id"), col("term"), col("tfidf"), col("rn"))
      .orderBy("doc_id", "rn")
  }

  val q78Sql: String =
    """WITH toks AS (SELECT doc_id,
      |  unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |                     x -> x <> '')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |idf AS (SELECT term,
      |  ln(((SELECT count(*) FROM documents) + 1.0) / (count(*) + 1.0)) + 1.0 AS idf
      |  FROM tf GROUP BY term),
      |sc AS (SELECT doc_id, tf.term, round(tf * idf, 6) AS tfidf
      |       FROM tf JOIN idf USING (term)),
      |rk AS (SELECT doc_id, term, tfidf,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      |  FROM sc)
      |SELECT doc_id, term, tfidf, CAST(rn AS BIGINT) AS rn
      |FROM rk WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin

  /** Quantile binning (`Features.quantileBins`): quartile buckets of
    * order totals with per-bin stats — equal-frequency discretization,
    * boundaries grid-rounded for cross-engine assignment parity. */
  def q79Binning(s: SparkSession, dir: String): DataFrame =
    Features.quantileBins(t(s, dir, "orders"), "o_totalprice", b = 4)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 6).as("lo"),
        round(max(col("o_totalprice")), 6).as("hi"))
      .orderBy("bin")

  val q79Sql: String =
    """WITH q AS (SELECT
      |  round(percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice), 6) AS q0,
      |  round(percentile_cont(0.50) WITHIN GROUP (ORDER BY o_totalprice), 6) AS q1,
      |  round(percentile_cont(0.75) WITHIN GROUP (ORDER BY o_totalprice), 6) AS q2
      |  FROM orders),
      |b AS (SELECT o_totalprice,
      |  (CASE WHEN o_totalprice > q0 THEN 1 ELSE 0 END +
      |   CASE WHEN o_totalprice > q1 THEN 1 ELSE 0 END +
      |   CASE WHEN o_totalprice > q2 THEN 1 ELSE 0 END) AS bin
      |  FROM orders, q)
      |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n,
      |  round(min(o_totalprice), 6) AS lo, round(max(o_totalprice), 6) AS hi
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  /** Chi-square contingency statistic — the categorical
    * feature-selection test (segment × nation-group association).
    * The contingency table is small BY DEFINITION (category product),
    * so its marginals come from windows over the dim-sized relation;
    * terms are grid-rounded and decimal-summed so the statistic is
    * bit-stable across engines and summation orders. */
  def q80Chi2(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "customer")
      .groupBy(col("c_mktsegment").as("seg"),
        (col("c_nationkey") % 5).as("ng"))
      .agg(count(lit(1)).cast("double").as("n"))
    val wSeg = org.apache.spark.sql.expressions.Window.partitionBy(col("seg"))
    val wNg = org.apache.spark.sql.expressions.Window.partitionBy(col("ng"))
    // contingency-table-sized relation: one task is CORRECT here —
    // pinned key (lit(1) would be stripped by EliminateWindowPartitions)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.plans.PinnedWindow.key(col("seg")))
    val terms = obs
      .withColumn("r", sum(col("n")).over(wSeg))
      .withColumn("c", sum(col("n")).over(wNg))
      .withColumn("t", sum(col("n")).over(wAll))
      .withColumn("e", col("r") * col("c") / col("t"))
      .withColumn("term",
        round((col("n") - col("e")) * (col("n") - col("e")) / col("e"), 9))
    terms.agg(
      round(sum(col("term").cast(DecimalType(28, 9))).cast("double"), 6)
        .as("chi2"),
      ((countDistinct(col("seg")) - 1) * (countDistinct(col("ng")) - 1))
        .as("dof"),
      sum(col("n")).cast("long").as("n_obs"))
  }

  val q80Sql: String =
    """WITH obs AS (SELECT c_mktsegment AS seg, c_nationkey % 5 AS ng,
      |  CAST(count(*) AS DOUBLE) AS n FROM customer GROUP BY 1, 2),
      |m AS (SELECT seg, ng, n,
      |  sum(n) OVER (PARTITION BY seg) AS r,
      |  sum(n) OVER (PARTITION BY ng) AS c,
      |  sum(n) OVER () AS t FROM obs),
      |tm AS (SELECT seg, ng, n,
      |  round((n - r * c / t) * (n - r * c / t) / (r * c / t), 9) AS term
      |  FROM m)
      |SELECT round(CAST(sum(CAST(term AS DECIMAL(28, 9))) AS DOUBLE), 6) AS chi2,
      |  CAST((count(DISTINCT seg) - 1) * (count(DISTINCT ng) - 1) AS BIGINT) AS dof,
      |  CAST(sum(n) AS BIGINT) AS n_obs
      |FROM tm""".stripMargin

  /** Pearson correlation per group, EXACT-SUM formulation: the five
    * moment sums go through per-row decimal casts (products of
    * 2-decimal inputs are 4-decimal exact), so the assembled statistic
    * is independent of summation order — the builtin streaming `corr`
    * is merge-order-dependent in its last ulps and would flap the
    * hash compare. */
  def q81Corr(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    val d4 = DecimalType(30, 4)
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(x.cast(dec2)).cast("double").as("sx"),
        sum(y.cast(dec2)).cast("double").as("sy"),
        sum((x * x).cast(d4)).cast("double").as("sxx"),
        sum((y * y).cast(d4)).cast("double").as("syy"),
        sum((x * y).cast(d4)).cast("double").as("sxy"))
      .select(col("l_returnflag"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("corr"),
        col("n").cast("long").as("n"))
      .orderBy("l_returnflag")
  }

  val q81Sql: String =
    """WITH m AS (SELECT l_returnflag,
      |  CAST(count(*) AS DOUBLE) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |  CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
      |  CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS syy,
      |  CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag,
      |  round((n * sxy - sx * sy) /
      |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr,
      |  CAST(n AS BIGINT) AS n
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** Incremental aggregate maintenance — the materialized-view pattern:
    * a BASE aggregate (historical partitions, computed once) merges
    * with a DELTA aggregate (today's partition) by re-aggregating the
    * mergeable stats (counts and decimal sums add; avg re-derives from
    * them), instead of rescanning history. At 100 TB this is the
    * difference between touching one date partition and touching the
    * corpus; the oracle computes the full aggregate directly, so the
    * merge's correctness — not just its shape — is what's checked. */
  def q82IncrAgg(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val cut = lit("1997-01-01").cast("date")
    def part(df: DataFrame) = df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice").cast(dec2)).as("s"))
    val base = part(o.filter(col("o_orderdate") < cut))
    val delta = part(o.filter(col("o_orderdate") >= cut))
    base.unionByName(delta)
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("s")).as("s"))
      .select(col("o_orderstatus"), col("cnt"),
        col("s").cast("double").as("total"),
        // divide the exact sum AFTER the double cast: decimal division
        // truncates at the result scale and diverges from the oracle's
        // double quotient
        (col("s").cast("double") / col("cnt")).as("avg_price"))
      .orderBy("o_orderstatus")
  }

  val q82Sql: String =
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Approximate quantiles with an oracle-checked error bound (the q65
    * pattern applied to `approx_percentile`): the sketch's median per
    * group must land within the exact p40–p60 band — the output carries
    * the exact median and the verdict, so oracle failure means sketch
    * drift, while the sketch itself (fixed-size state, one pass, no
    * sort) is the 100 TB path. */
  def q83ApproxQuantile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)"), 6)
          .as("exact_p50"),
        expr("approx_percentile(o_totalprice, 0.5, 1000)").as("__approx"),
        round(expr("percentile_cont(0.4) WITHIN GROUP (ORDER BY o_totalprice)"), 6)
          .as("__lo"),
        round(expr("percentile_cont(0.6) WITHIN GROUP (ORDER BY o_totalprice)"), 6)
          .as("__hi"))
      .select(col("o_orderpriority"), col("exact_p50"),
        (col("__approx") >= col("__lo") && col("__approx") <= col("__hi"))
          .as("in_band"))
      .orderBy("o_orderpriority")

  val q83Sql: String =
    """SELECT o_orderpriority,
      |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 6) AS exact_p50,
      |  true AS in_band
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Ordered funnel analysis — view → click → purchase with strict
    * event-order chaining (a later stage only counts if it happens
    * AFTER the user's entry to the previous stage). Three min-ts
    * aggregations, each joined to the previous stage's entry time —
    * every join keyed on user_id, so the whole funnel is ordinary
    * hash-shuffle work, no window over the global event stream. */
  def q84Funnel(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    def stage(etype: String, prev: Option[DataFrame]): DataFrame = {
      val base = prev match {
        case None => e.filter(col("event_type") === etype)
        case Some(pr) => e.filter(col("event_type") === etype)
          .join(pr, Seq("user_id"))
          .filter(col("ts") > col("t_prev"))
      }
      base.groupBy(col("user_id")).agg(min(col("ts")).as("t"))
        .select(col("user_id"), col("t").as("t_prev"))
    }
    val v = stage("view", None)
    val c = stage("click", Some(v))
    val p = stage("purchase", Some(c))
    def cnt(df: DataFrame, label: String) =
      df.agg(lit(label).as("stage"), count(lit(1)).as("users"))
    cnt(v, "1_view").unionByName(cnt(c, "2_click"))
      .unionByName(cnt(p, "3_purchase"))
      .orderBy("stage")
  }

  val q84Sql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |      JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |      JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY 1)
      |SELECT '1_view' AS stage, count(*) AS users FROM v
      |UNION ALL SELECT '2_click', count(*) FROM c
      |UNION ALL SELECT '3_purchase', count(*) FROM p
      |ORDER BY stage""".stripMargin

  /** Retention cohort matrix — users grouped by first-activity week,
    * tracked by distinct activity in each later week offset. Two
    * aggregations (first-activity, then (cohort, offset) distincts);
    * the first-activity table joins back keyed on user_id. */
  def q85Cohort(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val first = e.groupBy(col("user_id"))
      .agg(min(col("d")).as("d0"))
      .select(col("user_id"),
        date_trunc("week", col("d0")).cast("date").as("cohort_week"),
        col("d0"))
    e.join(first, Seq("user_id"))
      .select(col("cohort_week"),
        floor(datediff(col("d"), col("d0")) / 7).cast("long").as("week_offset"),
        col("user_id"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("users"))
      .orderBy("cohort_week", "week_offset")
  }

  val q85Sql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |f AS (SELECT user_id, min(d) AS d0 FROM e GROUP BY 1),
      |j AS (SELECT CAST(date_trunc('week', f.d0) AS DATE) AS cohort_week,
      |  CAST(floor(date_diff('day', f.d0, e.d) / 7.0) AS BIGINT) AS week_offset,
      |  e.user_id
      |  FROM e JOIN f ON e.user_id = f.user_id)
      |SELECT cohort_week, week_offset, count(DISTINCT user_id) AS users
      |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Rolling-window anomaly detection — each day scored against its
    * series' trailing-window mean/std (the monitoring staple). The
    * baseline is the 7 most recent OBSERVED days (a ROWS frame — on a
    * sparse series it reaches further back in calendar time; a strict
    * calendar-7-day baseline would be a RANGE-on-date frame instead,
    * same shape). The window runs over the DAILY aggregate (365 rows
    * per series, not the event stream), so the heavy lifting is the
    * one groupBy; thresholds grid-round before the comparison (the q74
    * boundary rule). The current day is EXCLUDED from its own baseline
    * (1..7 preceding) — a spike must not inflate the very statistics
    * that judge it. */
  def q86RollingAnomaly(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-7, -1)
    t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(dsum(col("value"), dec6).as("daily"))
      .withColumn("base_mean", round(avg(col("daily")).over(w), 6))
      .withColumn("base_std", round(stddev_samp(col("daily")).over(w), 6))
      .select(col("event_type"), col("d"), round(col("daily"), 6).as("daily"),
        (col("base_std").isNotNull && col("base_std") > 0 &&
          col("daily") > col("base_mean") + lit(3.0) * col("base_std"))
          .as("is_anomaly"))
      .orderBy("event_type", "d")
  }

  val q86Sql: String =
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS d,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS daily
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, d, daily,
      |  round(avg(daily) OVER w, 6) AS bm,
      |  round(stddev_samp(daily) OVER w, 6) AS bs
      |  FROM d
      |  WINDOW w AS (PARTITION BY event_type ORDER BY d
      |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, d, round(daily, 6) AS daily,
      |  (bs IS NOT NULL AND bs > 0 AND daily > bm + 3.0 * bs) AS is_anomaly
      |FROM m ORDER BY event_type, d""".stripMargin

  /** q11's shape on the NATIVE bounded-heap aggregate
    * (`functions.BoundedTopKAgg`): identical results and oracle, but
    * the aggregation buffer holds at most k rows per group at every
    * stage — `collect_list` materializes each group in full before the
    * sort+slice, which is the OOM under group skew at scale. */
  def q87TopKNative(s: SparkSession, dir: String): DataFrame =
    Features.topKPerGroupBounded(t(s, dir, "lineitem"), "l_orderkey",
        struct(negate(col("l_extendedprice")).as("np"),
          col("l_linenumber").as("l_linenumber")), 2)
      .select("l_orderkey", "l_linenumber", "rn")
      .orderBy("l_orderkey", "rn")

  val q87Sql: String = q11Sql

  /** Mergeable-sketch distinct maintenance — the q82 pattern for
    * distinct counts, where plain counts don't merge: per-(type, month)
    * HLL sketches union up to per-type estimates WITHOUT rescanning
    * rows (Apache DataSketches `hll_sketch_agg`/`hll_union_agg`). At
    * 100 TB the per-partition sketches persist beside the data and a
    * rollup touches kilobytes. Estimates are oracle-checked against
    * the exact distinct via the in-plan ±5% verdict (q65 pattern). */
  def q88HllMerge(s: SparkSession, dir: String): DataFrame = {
    val perMonth = t(s, dir, "events")
      .groupBy(col("event_type"), month(col("ts")).as("m"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    perMonth
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("__est"))
      .join(
        t(s, dir, "events").groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact_n")),
        Seq("event_type"))
      .select(col("event_type"), col("exact_n"),
        (abs(col("__est") - col("exact_n")) <= col("exact_n") * lit(0.05))
          .as("within_5pct"))
      .orderBy("event_type")
  }

  val q88Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS exact_n, true AS within_5pct
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Event transition counts — the Markov/path-analysis staple ("what
    * follows what"): per-user event stream in (ts, event_id) order,
    * `lag` pairs, global pair counts. One shuffle on user_id for the
    * window, one map-side-combining count. */
  def q89Transitions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("prev", "next")
  }

  val q89Sql: String =
    """WITH t AS (SELECT user_id, event_type,
      |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events)
      |SELECT prev, event_type AS next, count(*) AS cnt
      |FROM t WHERE prev IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Point-in-time SCD2 lookup — the retrieval half of q71's versioned
    * dimension: each order resolves the priority-state episode IN
    * EFFECT at its order date (`AsOfJoin` on valid_from per customer —
    * the merge formulation, one shuffle, no interval blow-up). The
    * composition is the warehouse contract: build the history once,
    * join facts against the version their event time saw. */
  def q90ScdLookup(s: SparkSession, dir: String): DataFrame = {
    val scd = graft.etl.Scd.scd2FromChangeLog(
      t(s, dir, "orders").filter(col("o_custkey") < 100)
        .select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"),
      keyCols = Seq("o_custkey"), attrCols = Seq("o_orderpriority"),
      orderCols = Seq("o_orderdate", "o_orderkey"))
      .select(col("o_custkey").as("k"), col("o_orderpriority").as("state"),
        col("valid_from"), col("version"))
    val facts = t(s, dir, "orders").filter(col("o_custkey") < 100)
      .select(col("o_orderkey"), col("o_custkey").as("k"),
        col("o_orderdate").as("ts"))
    graft.operators.AsOfJoin.asOf(
      facts, scd.select(col("k"), col("valid_from").as("ts"),
        col("state"), col("version")),
      key = "k", ts = "ts", carry = Seq("state", "version"),
      rightTieBreak = "version")
      .select(col("o_orderkey"), col("k").as("o_custkey"),
        col("state"), col("version"))
      .orderBy("o_orderkey")
  }

  val q90Sql: String =
    """WITH src AS (SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      |             FROM orders WHERE o_custkey < 100),
      |m AS (SELECT *, (row_number() OVER w = 1 OR
      |        o_orderpriority IS DISTINCT FROM lag(o_orderpriority) OVER w) AS keep
      |      FROM src
      |      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |e AS (SELECT o_custkey, o_orderpriority AS state, o_orderdate AS valid_from,
      |        CAST(row_number() OVER (PARTITION BY o_custkey
      |          ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS version
      |      FROM m WHERE keep),
      |j AS (SELECT f.o_orderkey, f.o_custkey, v.state, v.version,
      |        row_number() OVER (PARTITION BY f.o_orderkey
      |          ORDER BY v.valid_from DESC, v.version DESC) AS rn
      |      FROM src f LEFT JOIN e v
      |        ON f.o_custkey = v.o_custkey AND v.valid_from <= f.o_orderdate)
      |SELECT o_orderkey, o_custkey, state, version
      |FROM j WHERE rn = 1 ORDER BY o_orderkey""".stripMargin

  /** CDC MERGE — apply a keyed change set (upserts + deletes) to a
    * snapshot ([[graft.operators.Merge]]). Pre-1995 orders are the
    * snapshot; 1995+ orders replay as a change log where every 10th
    * key is a delete. The plan's point at scale: the snapshot is
    * scanned ONCE and never shuffled — the change keys anti-probe it
    * (AQE broadcasts a small change set), and only the change set
    * itself pays an aggregate (per-key latest winner). */
  def q91CdcMerge(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), year(col("o_orderdate")).as("__y"))
    val snapshot = base.filter(col("__y") < 1995).drop("__y")
    val changes = base.filter(col("__y") >= 1995).drop("__y")
      .withColumn("op",
        when(col("o_orderkey") % 10 === 0, lit("D")).otherwise(lit("U")))
      .withColumn("seq", col("o_orderkey")) // unique keys: any seq works
    graft.operators.Merge.applyChanges(snapshot, changes,
        keyCols = Seq("o_orderkey"), opCol = "op", seqCol = "seq")
      .orderBy("o_orderkey")
  }

  val q91Sql: String =
    """WITH snap AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |              FROM orders WHERE year(o_orderdate) < 1995),
      |chg AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |          CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
      |        FROM orders WHERE year(o_orderdate) >= 1995)
      |SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice
      |FROM snap s ANTI JOIN chg c ON s.o_orderkey = c.o_orderkey
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM chg WHERE op <> 'D'
      |ORDER BY o_orderkey""".stripMargin

  /** Unpivot/melt — wide measure columns to long (measure, val) rows,
    * the reshape feeding per-measure profiling (q76) and histograms
    * (q95) without one query per column. Spark's native `unpivot`
    * (Expand underneath: map-side row replication, zero shuffle). */
  def q92Unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") < 1000)
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        variableColumnName = "measure", valueColumnName = "val")
      .orderBy("l_orderkey", "l_linenumber", "measure")

  val q92Sql: String =
    """WITH src AS (SELECT * FROM lineitem WHERE l_orderkey < 1000)
      |SELECT l_orderkey, l_linenumber, measure, val FROM (
      |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
      |         l_quantity AS val FROM src
      |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
      |         l_extendedprice FROM src
      |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
      |         l_discount FROM src
      |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src)
      |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin

  /** Exact heavy hitters at sketch cost ([[graft.operators
    * .HeavyHitters]]): Misra–Gries candidates (recall 1.0 above
    * N/(capacity+1) by pigeonhole) + an exact recount of the ≤
    * capacity candidates. The oracle runs the full GROUP BY/HAVING —
    * the two plans must agree EXACTLY, which is the sketch's whole
    * guarantee. The naive plan shuffles every distinct user; this one
    * ships capacity-bounded buffers per task. */
  def q93HeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.operators.HeavyHitters(t(s, dir, "events"), col("user_id"),
      capacity = 200)

  val q93Sql: String =
    """SELECT user_id AS item, count(*) AS cnt
      |FROM events WHERE user_id IS NOT NULL
      |GROUP BY 1
      |HAVING count(*) * 201 > (SELECT count(*) FROM events
      |                         WHERE user_id IS NOT NULL)
      |ORDER BY cnt DESC, item""".stripMargin

  /** Temperature-flattened pretraining mixture
    * ([[Features.temperatureMixSample]], τ = 0.5): small sources are
    * upweighted relative to proportional sampling, quotas are
    * integer-floored from grid-rounded weights, and the draw itself
    * is the md5-rank determinism recipe (q43/q48) — the same rows
    * come out on any engine or partitioning, which is what makes a
    * SAMPLING operator oracle-checkable at all. */
  def q94DomainMix(s: SparkSession, dir: String): DataFrame =
    Features.temperatureMixSample(
        t(s, dir, "documents").select("doc_id", "lang"),
        domainCol = "lang", keyCol = "doc_id", tau = 0.5, target = 200)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  val q94Sql: String =
    """WITH n AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
      |q AS (SELECT lang,
      |        greatest(1, CAST(floor(round(200.0 * pow(cnt, 0.5) /
      |          (SELECT sum(pow(cnt, 0.5)) FROM n), 6)) AS BIGINT)) AS quota
      |      FROM n),
      |r AS (SELECT doc_id, d.lang, quota,
      |        row_number() OVER (PARTITION BY d.lang
      |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |      FROM documents d JOIN q ON d.lang = q.lang)
      |SELECT doc_id, lang FROM r WHERE rn <= quota
      |ORDER BY doc_id""".stripMargin

  /** Equi-width histogram with in-plan bounds
    * ([[Features.equiWidthHistogram]]): one exact min/max aggregate,
    * one map-side bucket projection, one bins-sized count — the only
    * histogram shape that survives 100 TB (no sort, no window, no
    * per-value shuffle). The bucket arithmetic is a fixed IEEE op
    * chain, so DuckDB reproduces it bit-for-bit. */
  def q95Histogram(s: SparkSession, dir: String): DataFrame =
    Features.equiWidthHistogram(t(s, dir, "lineitem"),
        "l_extendedprice", bins = 10)
      .orderBy("bin")

  val q95Sql: String =
    """WITH mm AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      |            FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |b AS (SELECT CASE WHEN hi = lo THEN 0 ELSE
      |        least(CAST(floor((l_extendedprice - lo) / ((hi - lo) / 10.0))
      |                AS BIGINT), 9) END AS bin,
      |        lo, hi
      |      FROM lineitem CROSS JOIN mm WHERE l_extendedprice IS NOT NULL)
      |SELECT bin, round(lo + bin * ((hi - lo) / 10.0), 6) AS lo_edge,
      |       count(*) AS cnt
      |FROM b GROUP BY 1, 2 ORDER BY bin""".stripMargin

  /** Vocabulary heavy hitters — q56's top-k vocabulary, reformulated
    * at sketch cost for the case that matters at 100 TB: token
    * cardinality in the billions, where q56's full (term → count)
    * shuffle IS the bottleneck. The Misra–Gries pass ships ≤ capacity
    * counters per task over the exploded token stream; the exact
    * recount touches only candidate tokens (pushed In-filter after
    * explode is a map-side `array_contains`-style probe). Output is
    * exactly `GROUP BY term HAVING cnt > N/101` — same tokenizer as
    * q56 (`TextOps.regexTokens` ≡ `regexp_extract_all('[a-z0-9]+')`). */
  def q96VocabHeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.operators.HeavyHitters(
      t(s, dir, "documents")
        .select(explode(TextOps.regexTokens(col("text"))).as("term")),
      col("term"), capacity = 100)

  val q96Sql: String =
    """WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |             FROM documents)
      |SELECT term AS item, count(*) AS cnt
      |FROM tok GROUP BY 1
      |HAVING count(*) * 101 > (SELECT count(*) FROM tok)
      |ORDER BY cnt DESC, item""".stripMargin

  /** Rolling 7-day distinct users (weekly-active per day) — the
    * engagement staple whose naive form (`count(DISTINCT) OVER (RANGE
    * 6 PRECEDING)`) Spark rejects and a global window couldn't
    * distribute anyway. The scale shape: dedup to (user, day) grain
    * (one shuffle, map-side combine), then each (user, day) VOTES for
    * the 7 window-end days it belongs to (`sequence` + `explode` —
    * map-side ×7 replication of the already-deduped grain, the same
    * Expand trade q92 makes), then one distinct-agg per target day.
    * No window ever sees more than a day's slice. Trailing days past
    * the last observed day are clipped (broadcast 1-row max). */
  def q97RollingDau(s: SparkSession, dir: String): DataFrame = {
    val ud = t(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val mx = ud.agg(max(col("day")).as("mday"))
    ud.select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"))
      .join(broadcast(mx), col("wday") <= col("mday"))
      .groupBy(col("wday").as("day"))
      .agg(countDistinct(col("user_id")).as("dau7"))
      .orderBy("day")
  }

  val q97Sql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |            FROM events WHERE user_id IS NOT NULL),
      |mx AS (SELECT max(day) AS mday FROM ud),
      |x AS (SELECT user_id,
      |        CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
      |          CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
      |          INTERVAL 1 DAY)) AS DATE) AS wday
      |      FROM ud)
      |SELECT wday AS day, count(DISTINCT user_id) AS dau7
      |FROM x CROSS JOIN mx WHERE wday <= mday
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Weighted PageRank over the event-transition graph — q89's edges
    * promoted to a centrality measure ([[graft.operators.PageRank]],
    * 3 unrolled power iterations, damping 0.85). The oracle replays
    * the identical iteration algebra as chained CTEs; doubles round
    * to 6 decimals at the end only (the per-node in-edge sums differ
    * across engines by ~1e-16 — far below the grid). */
  def q98PageRank(s: SparkSession, dir: String): DataFrame =
    graft.operators.PageRank.run(q89Transitions(s, dir),
        "prev", "next", "cnt", damping = 0.85, iterations = 3)
      .orderBy("node")

  val q98Sql: String =
    """WITH t AS (SELECT user_id, event_type,
      |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |e AS (SELECT prev AS src, event_type AS dst, count(*) AS cnt
      |      FROM t WHERE prev IS NOT NULL GROUP BY 1, 2),
      |nodes AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT count(*) AS c FROM nodes),
      |ow AS (SELECT src, sum(CAST(cnt AS DOUBLE)) AS tot FROM e GROUP BY 1),
      |p AS (SELECT e.src, e.dst, CAST(e.cnt AS DOUBLE) / ow.tot AS p
      |      FROM e JOIN ow ON e.src = ow.src),
      |r0 AS (SELECT v, CAST(1.0 AS DOUBLE) / c AS r FROM nodes CROSS JOIN nn),
      |r1 AS (SELECT v, (CAST(1.0 AS DOUBLE) - 0.85) / c +
      |         0.85 * coalesce(s, CAST(0.0 AS DOUBLE)) AS r
      |       FROM nodes CROSS JOIN nn LEFT JOIN
      |         (SELECT dst, sum(r * p) AS s FROM p JOIN r0 ON p.src = r0.v
      |          GROUP BY 1) c1 ON nodes.v = c1.dst),
      |r2 AS (SELECT v, (CAST(1.0 AS DOUBLE) - 0.85) / c +
      |         0.85 * coalesce(s, CAST(0.0 AS DOUBLE)) AS r
      |       FROM nodes CROSS JOIN nn LEFT JOIN
      |         (SELECT dst, sum(r * p) AS s FROM p JOIN r1 ON p.src = r1.v
      |          GROUP BY 1) c2 ON nodes.v = c2.dst),
      |r3 AS (SELECT v, (CAST(1.0 AS DOUBLE) - 0.85) / c +
      |         0.85 * coalesce(s, CAST(0.0 AS DOUBLE)) AS r
      |       FROM nodes CROSS JOIN nn LEFT JOIN
      |         (SELECT dst, sum(r * p) AS s FROM p JOIN r2 ON p.src = r2.v
      |          GROUP BY 1) c3 ON nodes.v = c3.dst)
      |SELECT v AS node, round(r, 6) AS rank FROM r3 ORDER BY node""".stripMargin

  /** Fixed-size deterministic global sample — the "eval subset of
    * exactly M rows" draw ([[Features.hashSample]] is its
    * FRACTION-valued sibling): rank the whole relation by md5 of the
    * unique key, keep the first M. `ORDER BY hash LIMIT M` plans as
    * TakeOrderedAndProject — each partition keeps its local top-M and
    * only M rows per partition ever reach the driver-side merge, the
    * global analog of q87's bounded per-group heap. Engine-portable
    * for the same reason as q43: the "random" order is a pure
    * function of the data. */
  def q99FixedSample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("lang"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      .limit(150)
      .orderBy("doc_id")

  val q99Sql: String =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang FROM documents
      |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 150)
      |ORDER BY doc_id""".stripMargin

  /** Skyline / Pareto frontier — parts not beaten on BOTH size and
    * price, routed through the FIRST-CLASS plan node
    * ([[graft.plans.SkylinePlan]] → `SkylineStrategy` → `SkylineExec`,
    * injected by [[graft.GraftExtensions]]): partition-local
    * block-nested-loop skylines, then a merge pass whose single-task
    * placement is declared as an `AllTuples` distribution requirement
    * instead of a hand-placed exchange. The SQL face below is the
    * O(n²) `NOT EXISTS` this operator replaces at scale. */
  def q100Skyline(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skyline.skylineNative(
        t(s, dir, "part").select("p_partkey", "p_size", "p_retailprice"),
        Seq("p_size", "p_retailprice"))
      .orderBy("p_partkey")

  val q100Sql: String =
    """SELECT p_partkey, p_size, p_retailprice FROM part a
      |WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
      |  AND NOT EXISTS (
      |    SELECT 1 FROM part b
      |    WHERE b.p_size IS NOT NULL AND b.p_retailprice IS NOT NULL
      |      AND b.p_size <= a.p_size AND b.p_retailprice <= a.p_retailprice
      |      AND (b.p_size < a.p_size OR b.p_retailprice < a.p_retailprice))
      |ORDER BY p_partkey""".stripMargin

  /** Interval-overlap join — view exposure windows × click windows
    * per user ([[graft.operators.RangeJoin.intervalOverlap]]: both
    * intervals bucketized, pairs meet once in the overlap-start
    * bucket — one shuffle, never a nested loop; the SQL face is the
    * raw inequality join Catalyst would refuse to hash). Windows are
    * [ts, ts+10min] on both sides. */
  def q101Overlap(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def side(kind: String, idAs: String) = ev
      .filter(col("event_type") === kind)
      .select(col("user_id"), col("event_id").as(idAs),
        unix_timestamp(col("ts")).as(s"${idAs}_s"),
        (unix_timestamp(col("ts")) + 600L).as(s"${idAs}_e"))
    graft.operators.RangeJoin.intervalOverlap(
        side("view", "view_id"), "view_id_s", "view_id_e",
        side("click", "click_id"), "click_id_s", "click_id_e",
        Seq("user_id"), bucketWidth = 600L)
      .select("user_id", "view_id", "click_id")
      .orderBy("user_id", "view_id", "click_id")
  }

  val q101Sql: String =
    """SELECT a.user_id, a.event_id AS view_id, b.event_id AS click_id
      |FROM events a JOIN events b ON a.user_id = b.user_id
      |WHERE a.event_type = 'view' AND b.event_type = 'click'
      |  AND floor(epoch(a.ts)) <= floor(epoch(b.ts)) + 600
      |  AND floor(epoch(b.ts)) <= floor(epoch(a.ts)) + 600
      |ORDER BY 1, 2, 3""".stripMargin

  /** Snapshot diff — derive the I/U/D change log between two order
    * snapshot versions ([[graft.operators.Merge.snapshotDiff]]: one
    * co-partitioned full-outer join, null-safe struct compare; the
    * CDC bootstrap / table-compare primitive, inverse of q91's MERGE).
    * Old version: multiples of 5 absent, multiples of 7 priced ×1.1;
    * new version: keys ≡3 (mod 11) absent — so the diff plants all
    * three op kinds deterministically. */
  def q102SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val oldSnap = orders.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") *
          when(col("o_orderkey") % 7 === 0, lit(1.1d)).otherwise(lit(1.0d)))
          .as("price"),
        col("o_orderstatus").as("status"))
    val newSnap = orders.filter(col("o_orderkey") % 11 =!= 3)
      .select(col("o_orderkey"), col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
    graft.operators.Merge.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"))
      .withColumn("price", round(col("price"), 6))
      .orderBy("o_orderkey")
  }

  val q102Sql: String =
    """WITH o AS (
      |  SELECT o_orderkey,
      |    o_totalprice * CASE WHEN o_orderkey % 7 = 0
      |      THEN CAST(1.1 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS price,
      |    o_orderstatus AS status
      |  FROM orders WHERE o_orderkey % 5 <> 0),
      |n AS (
      |  SELECT o_orderkey, o_totalprice AS price, o_orderstatus AS status
      |  FROM orders WHERE o_orderkey % 11 <> 3)
      |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
      |  round(CASE WHEN n.o_orderkey IS NULL THEN o.price ELSE n.price END, 6)
      |    AS price,
      |  CASE WHEN n.o_orderkey IS NULL THEN o.status ELSE n.status END AS status,
      |  CASE WHEN o.o_orderkey IS NULL THEN 'I'
      |       WHEN n.o_orderkey IS NULL THEN 'D' ELSE 'U' END AS op
      |FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey
      |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
      |   OR o.price IS DISTINCT FROM n.price
      |   OR o.status IS DISTINCT FROM n.status
      |ORDER BY 1""".stripMargin

  /** Bloom-prefiltered semi join — lineitems of high-value orders
    * ([[graft.operators.BloomJoin.semiJoin]]: the order-key bloom is
    * built distributed and probed MAP-SIDE on the lineitem scan, so
    * only might-match rows ever reach the exchange; the trailing
    * exact semi join removes false positives, making the result
    * bit-identical to the plain `IN` subquery the oracle runs). */
  def q103BloomSemi(s: SparkSession, dir: String): DataFrame = {
    val hot = t(s, dir, "orders").filter(col("o_totalprice") > 400000d)
    graft.operators.BloomJoin.semiJoin(
        t(s, dir, "lineitem"), "l_orderkey", hot, "o_orderkey",
        expectedItems = 4000L)
      .select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber")
  }

  val q103Sql: String =
    """SELECT l_orderkey, l_linenumber FROM lineitem
      |WHERE l_orderkey IN (
      |  SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
      |ORDER BY 1, 2""".stripMargin

  /** Sketch-based audience overlap — |A∩B| by inclusion–exclusion
    * over mergeable HLL sketches (|A|+|B|−|A∪B|), for every pair of
    * event types. The segment-overlap query marketing/attribution
    * runs constantly; exact pairwise intersections need a
    * distinct-pair shuffle per combination, while the sketch answer
    * reuses ONE per-type sketch table (kilobytes) for all C(n,2)
    * pairs. Error compounds through subtraction, so the in-plan
    * verdict checks a ±5%-of-union band (the natural error scale of
    * the three estimates), oracle-expected `true`. */
  def q104HllIntersect(s: SparkSession, dir: String): DataFrame = {
    val sk = t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
        countDistinct(col("user_id")).as("n"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"),
      col("n").as("na"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"),
      col("n").as("nb"))
    val pairs = a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("na"), col("nb"),
        expr("hll_sketch_estimate(hll_union(sk_a, sk_b, false))").as("u_est"))
      .withColumn("inter_est", col("na") + col("nb") - col("u_est"))
    val exact = t(s, dir, "events").alias("x")
      .select(col("event_type").as("type_a"), col("user_id"))
      .distinct()
      .join(t(s, dir, "events")
        .select(col("event_type").as("type_b"), col("user_id"))
        .distinct(), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(countDistinct(col("user_id")).as("exact_inter"))
    pairs.join(exact, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("exact_inter"),
        (abs(col("inter_est") - col("exact_inter")) <=
          col("u_est") * lit(0.05)).as("within_tol"))
      .orderBy("type_a", "type_b")
  }

  val q104Sql: String =
    """WITH d AS (SELECT DISTINCT event_type, user_id FROM events)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  count(DISTINCT a.user_id) AS exact_inter, true AS within_tol
      |FROM d a JOIN d b ON a.user_id = b.user_id
      |  AND a.event_type < b.event_type
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Top event trigrams — q89's transition matrix generalized to
    * length-3 paths ("view→click→purchase"): two stacked `lag`s over
    * the SAME per-user window (one shuffle on user_id — Catalyst
    * collapses same-spec window functions into a single WindowExec),
    * then a map-side-combining count and bounded top-20 via
    * TakeOrderedAndProject. The path-mining face of funnel analysis:
    * q84 checks ONE prescribed order, this discovers the orders that
    * actually happen. */
  def q105EventPaths(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("e3"))
      .withColumn("e2", lag(col("e3"), 1).over(w))
      .withColumn("e1", lag(col("e3"), 2).over(w))
      .filter(col("e1").isNotNull)
      .groupBy("e1", "e2", "e3")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("e1"), col("e2"), col("e3"))
      .limit(20)
  }

  val q105Sql: String =
    """WITH t AS (SELECT
      |  lag(event_type, 2) OVER w AS e1,
      |  lag(event_type, 1) OVER w AS e2,
      |  event_type AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT e1, e2, e3, count(*) AS cnt FROM t WHERE e1 IS NOT NULL
      |GROUP BY 1, 2, 3 ORDER BY cnt DESC, e1, e2, e3 LIMIT 20""".stripMargin

  /** Data-quality expectation suite ([[graft.etl.Quality]]): five
    * dbt-style checks over a deliberately dirtied orders table —
    * row-level rules fuse into ONE aggregate pass, uniqueness adds a
    * distinct-count, referential integrity a broadcast anti-join
    * count. The dirt (dup keys + null FK + bad status + negative
    * price via %997 rows; dangling FK via %991 rows) is planted
    * identically in both engines so every check has a non-zero,
    * computed violation count. */
  def q106Quality(s: SparkSession, dir: String): DataFrame = {
    import graft.etl.Quality
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val dirtyA = orders.filter(col("o_orderkey") % 997 === 0)
      .select(col("o_orderkey"), lit(null).cast("long").as("o_custkey"),
        lit("X").as("o_orderstatus"), lit(-5.0d).as("o_totalprice"))
    val dirtyB = orders.filter(col("o_orderkey") % 991 === 0)
      .select(col("o_orderkey"), lit(-1L).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val dirtied = orders.unionByName(dirtyA).unionByName(dirtyB)
    Quality.check(dirtied, Seq(
        Quality.NotNull("o_custkey"),
        Quality.Unique(Seq("o_orderkey")),
        Quality.Accepted("o_orderstatus", Seq("O", "F", "P")),
        Quality.InRange("o_totalprice", 0d, 1000000d),
        Quality.RefersTo("o_custkey", t(s, dir, "customer"), "c_custkey")))
      .orderBy("check")
  }

  val q106Sql: String =
    """WITH t AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, NULL, 'X', -5.0 FROM orders WHERE o_orderkey % 997 = 0
      |  UNION ALL
      |  SELECT o_orderkey, -1, o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey % 991 = 0),
      |checks("check", violations) AS (
      |  SELECT 'not_null(o_custkey)',
      |    (SELECT count(*) FROM t WHERE o_custkey IS NULL)
      |  UNION ALL SELECT 'unique(o_orderkey)',
      |    (SELECT count(*) FILTER (o_orderkey IS NOT NULL)
      |       - count(DISTINCT o_orderkey) FROM t)
      |  UNION ALL SELECT 'accepted_values(o_orderstatus)',
      |    (SELECT count(*) FROM t WHERE o_orderstatus IS NOT NULL
      |       AND o_orderstatus NOT IN ('O', 'F', 'P'))
      |  UNION ALL SELECT 'in_range(o_totalprice)',
      |    (SELECT count(*) FROM t WHERE o_totalprice IS NOT NULL
      |       AND (o_totalprice < 0 OR o_totalprice > 1000000))
      |  UNION ALL SELECT 'refers_to(o_custkey)',
      |    (SELECT count(*) FROM t WHERE o_custkey IS NOT NULL AND NOT EXISTS
      |       (SELECT 1 FROM customer c WHERE c.c_custkey = t.o_custkey)))
      |SELECT "check", violations, violations = 0 AS pass
      |FROM checks ORDER BY "check"""".stripMargin

  /** Jaro–Winkler fuzzy entity match — misspelled country probes
    * resolved against the nation dimension with the native
    * [[graft.functions.JaroWinkler]] expression (codegen'd,
    * byte-level, DuckDB-parity semantics). Same broadcast map-side
    * shape as q33's Levenshtein matcher: probes × dim scored without
    * any shuffle of the corpus side, best match per probe via the
    * bounded hash-agg top-1. */
  def q107JaroWinkler(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probes = Seq("BRASIL", "GERMANIA", "EJIPT", "ARGENTINIA", "CANADIA")
      .toDF("probe")
    val scored = probes
      .join(broadcast(t(s, dir, "nation").select(col("n_name"))))
      .withColumn("sim",
        graft.functions.jaro_winkler(lower(col("probe")), lower(col("n_name"))))
    Features.topKPerGroupAgg(scored, "probe",
        struct(negate(col("sim")).as("ns"), col("n_name").as("n_name")), 1)
      .select(col("probe"), col("n_name").as("best_match"),
        round(-col("ns"), 6).as("sim"))
      .orderBy("probe")
  }

  val q107Sql: String =
    """WITH probes(probe) AS (VALUES ('BRASIL'), ('GERMANIA'), ('EJIPT'),
      |  ('ARGENTINIA'), ('CANADIA')),
      |scored AS (
      |  SELECT probe, n_name,
      |    jaro_winkler_similarity(lower(probe), lower(n_name)) AS sim
      |  FROM probes CROSS JOIN nation)
      |SELECT probe, n_name AS best_match, round(sim, 6) AS sim
      |FROM scored
      |QUALIFY row_number() OVER (PARTITION BY probe ORDER BY sim DESC, n_name) = 1
      |ORDER BY probe""".stripMargin

  /** Inverted-index keyword search — conjunctive query over posting
    * lists ([[graft.text.TextOps.invertedIndex]]/`searchAnd`): the
    * index is one explode + one term shuffle; the query touches only
    * its own terms' postings and intersects them with a
    * count-equality. Output: documents containing ALL of
    * {batch, scan, join}, plus each query term's document frequency
    * from the index (both faces oracle-checked). */
  def q108InvertedIndex(s: SparkSession, dir: String): DataFrame = {
    // r17 (VERDICT r16 item 9): the whole-relation .cache() forced the
    // FULL index aggregation (collect_list over every corpus term) and
    // pinned it in the block cache so two 3-term consumers could share
    // it. Uncached, the `term isin` filters push BELOW the groupBy:
    // each branch tokenizes the corpus but aggregates only its three
    // terms' rows — at scale a far smaller shuffle than materializing
    // the full index, and no cached relation outliving the query.
    val idx = graft.text.TextOps.invertedIndex(
      t(s, dir, "documents"), "doc_id", "text")
    val hits = graft.text.TextOps.searchAnd(idx, Seq("batch", "scan", "join"))
    val dfs = idx.filter(col("term").isin("batch", "scan", "join"))
      .select(col("term"), col("df"))
    hits.select(col("doc_id").cast("string").as("k"), lit(-1L).as("v"))
      .unionByName(dfs.select(col("term").as("k"), col("df").as("v")))
      .orderBy("k", "v")
  }

  val q108Sql: String =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |q AS (SELECT doc_id, term FROM toks
      |      WHERE term IN ('batch', 'scan', 'join'))
      |SELECT CAST(doc_id AS VARCHAR) AS k, CAST(-1 AS BIGINT) AS v FROM q
      |GROUP BY doc_id HAVING count(*) = 3
      |UNION ALL
      |SELECT term AS k, count(*) AS v FROM q GROUP BY term
      |ORDER BY k, v""".stripMargin

  /** Bounded-heap deterministic per-group sample — q48's draw
    * (md5-ranked k per group) through the native bounded top-k
    * aggregate ([[Features.groupedSampleBounded]]): the q87
    * bounded-memory story applied to sampling, so a skewed group
    * never materializes or sorts in full. 5 documents per language,
    * reproducible in any engine. */
  def q109SampleBounded(s: SparkSession, dir: String): DataFrame =
    Features.groupedSampleBounded(
        t(s, dir, "documents").select(col("lang"), col("doc_id")),
        "lang", "doc_id", k = 5)
      .select("lang", "doc_id", "rn")
      .orderBy("lang", "rn")

  val q109Sql: String =
    """SELECT lang, doc_id, rn FROM (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin

  /** Hierarchy flattening by pointer doubling
    * ([[graft.operators.Hierarchy.rootAndDepth]]): a synthetic
    * decimal-trie forest over part keys (parent = key DIV 10, keys
    * < 10 are roots) resolved to (node, root, depth) in ⌈log₂ h⌉
    * node-sized self-joins. The oracle is the recursive CTE this
    * operator replaces — which walks one level per round and at
    * 100 TB would serialize tree height into shuffle rounds. */
  def q110Hierarchy(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "part").select(
      col("p_partkey").as("id"),
      when(col("p_partkey") >= 10, expr("p_partkey DIV 10")).as("parent"))
    graft.operators.Hierarchy.rootAndDepth(nodes, "id", "parent")
      .orderBy("node")
  }

  val q110Sql: String =
    """WITH RECURSIVE h(node, root, depth) AS (
      |  SELECT p_partkey, p_partkey, CAST(0 AS BIGINT) FROM part
      |  WHERE p_partkey < 10
      |  UNION ALL
      |  SELECT p.p_partkey, h.root, h.depth + 1
      |  FROM part p JOIN h ON p.p_partkey // 10 = h.node
      |  WHERE p.p_partkey >= 10)
      |SELECT node, root, depth FROM h ORDER BY node""".stripMargin

  /** Time-series resampling — daily per-type maxima aligned to a
    * 6-hour grid with linear interpolation
    * ([[Features.resampleLinear]]): pair-owned grid emission, one
    * lead window + map-side explode. Observations are daily MAX of
    * `value` (order-independent double, so both engines feed the
    * interpolation bit-identical inputs — an avg's summation order
    * would not be). */
  def q111Resample(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "events")
      .groupBy(col("event_type"),
        (expr("floor(unix_timestamp(ts)) DIV 86400") * 86400L).as("t"))
      .agg(max(col("value")).as("v"))
    Features.resampleLinear(obs, "event_type", "t", "v", step = 21600L)
      .select(col("event_type"), col("grid_ts"),
        round(col("value"), 6).as("val"))
      .orderBy("event_type", "grid_ts")
  }

  val q111Sql: String =
    """WITH obs AS (
      |  SELECT event_type,
      |    (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS t,
      |    max(value) AS v
      |  FROM events GROUP BY 1, 2),
      |p AS (SELECT event_type, t, v,
      |        lead(t) OVER w AS t1, lead(v) OVER w AS v1
      |      FROM obs WINDOW w AS (PARTITION BY event_type ORDER BY t)),
      |expanded AS (
      |  SELECT event_type, t, t1, v, v1,
      |    unnest(generate_series(((t + 21599) // 21600) * 21600, t1 - 1, 21600))
      |      AS grid_ts
      |  FROM p WHERE t1 IS NOT NULL),
      |interior AS (
      |  SELECT event_type, grid_ts,
      |    v + (v1 - v) * (CAST(grid_ts - t AS DOUBLE) / CAST(t1 - t AS DOUBLE))
      |      AS val
      |  FROM expanded),
      |last_pt AS (
      |  SELECT event_type, t AS grid_ts, v AS val FROM p
      |  WHERE t1 IS NULL AND t % 21600 = 0)
      |SELECT event_type, grid_ts, round(val, 6) AS val FROM (
      |  SELECT * FROM interior UNION ALL SELECT * FROM last_pt)
      |ORDER BY event_type, grid_ts""".stripMargin

  /** Cross-corpus near-dup join — document-level decontamination of
    * an "eval" split against a "train" split (parity of doc_id), via
    * [[Dedup.crossNearDupPairs]]: both corpora band with shared
    * MinHash constants, meet in one (band, bucket) equi-join, exact
    * Jaccard verifies. The oracle is the exact |A|·|B| Jaccard join
    * this stays sub-quadratic against. */
  def q112CrossDup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.crossNearDupPairs(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        threshold = 0.9)
      .orderBy("id_a", "id_b")
  }

  val q112Sql: String =
    """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x->x<>'') toks FROM documents),
      |s AS (SELECT doc_id, CASE WHEN len(toks) >= 3
      |  THEN list_distinct(list_transform(generate_series(1, len(toks)-2),
      |       i -> array_to_string(list_slice(toks, i, i+2), ' ')))
      |  ELSE [array_to_string(toks, ' ')] END sh FROM t),
      |p AS (SELECT a.doc_id id_a, b.doc_id id_b,
      |  CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE) /
      |    (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))) jaccard
      |  FROM s a, s b WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1)
      |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  /** Per-series trend lines — daily event volume regressed on the
    * epoch-day index, one OLS fit per event type in a single
    * aggregation pass ([[Features.trendPerGroup]]: exact decimal
    * moment sums, closed-form solve — the distributed "is this metric
    * drifting" query; q46 is the same algebra as a global forecast).
    * Inputs are integral (day index, daily count), so both engines
    * feed identical exact moments into the identical IEEE solve. */
  def q114Trend(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        expr("floor(unix_timestamp(ts)) DIV 86400").as("day"))
      .agg(count(lit(1)).as("cnt"))
    Features.trendPerGroup(daily, "event_type", "day", "cnt")
      .select(col("event_type"), col("n"),
        round(col("slope"), 6).as("slope"),
        round(col("intercept"), 6).as("intercept"))
      .orderBy("event_type")
  }

  val q114Sql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type,
      |  -- integral inputs: plain integer sums are exact (and < 2^53,
      |  -- so the DOUBLE casts are too) — same values as the engine's
      |  -- exact decimal moments
      |  CAST(count(*) AS DOUBLE) AS n,
      |  CAST(sum(day) AS DOUBLE) AS sx,
      |  CAST(sum(cnt) AS DOUBLE) AS sy,
      |  CAST(sum(day * day) AS DOUBLE) AS sxx,
      |  CAST(sum(day * cnt) AS DOUBLE) AS sxy
      |  FROM daily GROUP BY 1)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  round(CASE WHEN n * sxx - sx * sx <> 0
      |    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope,
      |  round(CASE WHEN n * sxx - sx * sx <> 0
      |    THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
      |    END, 6) AS intercept
      |FROM m ORDER BY event_type""".stripMargin

  /** Winsorization audit — clip fences at exact p05/p95 and the
    * count of rows each fence compresses
    * ([[Features.winsorize]]: one percentile aggregate broadcast
    * into a codegen'd clip projection). Counts, not clipped sums, are
    * the oracle surface: both engines compute bit-identical fence
    * doubles (same interpolation formula), and comparisons against
    * them are exact. */
  def q113Winsorize(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val w = Features.winsorize(li, "l_extendedprice", 0.05, 0.95, "clipped")
    w.agg(
        round(min(col("clipped")), 6).as("lo_fence"),
        round(max(col("clipped")), 6).as("hi_fence"),
        sum(when(col("l_extendedprice") < col("clipped"), 1L).otherwise(0L))
          .as("n_raised"),
        sum(when(col("l_extendedprice") > col("clipped"), 1L).otherwise(0L))
          .as("n_lowered"),
        count(lit(1)).as("n"))
  }

  val q113Sql: String =
    """WITH b AS (SELECT
      |  percentile_cont(0.05) WITHIN GROUP (ORDER BY l_extendedprice) AS lo,
      |  percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice) AS hi
      |  FROM lineitem)
      |SELECT round(b.lo, 6) AS lo_fence, round(b.hi, 6) AS hi_fence,
      |  CAST(sum(CASE WHEN l_extendedprice < b.lo THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_raised,
      |  CAST(sum(CASE WHEN l_extendedprice > b.hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_lowered,
      |  count(*) AS n
      |FROM lineitem CROSS JOIN b GROUP BY b.lo, b.hi""".stripMargin

  /** Sequence-gap detection (missing-id islands) — the ingestion
    * audit "which chunks never arrived", via
    * [[graft.operators.Gaps.missingRanges]]: bucket-partitioned lag
    * windows for intra-bucket holes + a bounded bucket-summary pass
    * for the holes that straddle buckets — no global data-sized
    * window anywhere. The oracle is the single global lag this
    * decomposition must exactly reproduce. */
  def q115Gaps(s: SparkSession, dir: String): DataFrame =
    graft.operators.Gaps.missingRanges(
        // this generator's orderkeys are contiguous — drop two
        // residue classes so the detector has real holes to find
        // (adjacent 3,4 mod 10 → two-wide gaps), identically planted
        // in the oracle
        t(s, dir, "orders").filter(!(col("o_orderkey") % 10).isin(3, 4)),
        "o_orderkey", bucketWidth = 1000L)
      .orderBy("gap_start")

  val q115Sql: String =
    """SELECT prev + 1 AS gap_start, o_orderkey - 1 AS gap_end,
      |  o_orderkey - prev - 1 AS missing
      |FROM (SELECT o_orderkey,
      |        lag(o_orderkey) OVER (ORDER BY o_orderkey) AS prev
      |      FROM orders WHERE o_orderkey % 10 NOT IN (3, 4))
      |WHERE prev IS NOT NULL AND o_orderkey - prev > 1
      |ORDER BY gap_start""".stripMargin

  /** Mutual information between two categoricals (status ×
    * priority) — the dependence measure feature selection runs beside
    * q80's chi-square, same scale shape: one contingency aggregate,
    * window marginals over the dim-sized table, per-term round(…,9)
    * then an order-independent DECIMAL sum (the q80 determinism
    * recipe — ln() is the only non-IEEE-exact step and it feeds a
    * 9-decimal grid). MI in nats; 0-count cells contribute nothing
    * (they never appear in the grouped relation). */
  def q116MutualInfo(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "orders")
      .groupBy(col("o_orderstatus").as("a"), col("o_orderpriority").as("b"))
      .agg(count(lit(1)).cast("double").as("n"))
    val wA = org.apache.spark.sql.expressions.Window.partitionBy(col("a"))
    val wB = org.apache.spark.sql.expressions.Window.partitionBy(col("b"))
    // contingency-table-sized relation — pinned intentional single task
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.plans.PinnedWindow.key(col("a")))
    val terms = obs
      .withColumn("r", sum(col("n")).over(wA))
      .withColumn("c", sum(col("n")).over(wB))
      .withColumn("t", sum(col("n")).over(wAll))
      .withColumn("term", round((col("n") / col("t")) *
        log(col("n") * col("t") / (col("r") * col("c"))), 9))
    terms.agg(
      round(sum(col("term").cast(DecimalType(28, 9))).cast("double"), 6)
        .as("mi_nats"),
      sum(col("n")).cast("long").as("n_obs"))
  }

  val q116Sql: String =
    """WITH obs AS (SELECT o_orderstatus AS a, o_orderpriority AS b,
      |  CAST(count(*) AS DOUBLE) AS n FROM orders GROUP BY 1, 2),
      |m AS (SELECT a, b, n,
      |  sum(n) OVER (PARTITION BY a) AS r,
      |  sum(n) OVER (PARTITION BY b) AS c,
      |  sum(n) OVER () AS t FROM obs),
      |tm AS (SELECT n, round((n / t) * ln(n * t / (r * c)), 9) AS term FROM m)
      |SELECT round(CAST(sum(CAST(term AS DECIMAL(28, 9))) AS DOUBLE), 6)
      |  AS mi_nats,
      |  CAST(sum(n) AS BIGINT) AS n_obs
      |FROM tm""".stripMargin

  /** Per-class embedding centroids — the IVF-training / class-
    * prototype step as a relational plan: posexplode to
    * (label, dim, value) and average per cell. One shuffle of
    * (label, dim) scalar cells — never whole vectors — with map-side
    * partial aggregation; 10 labels × 64 dims out. The q86 precedent
    * applies to determinism: a ~50-element double avg rounded to 6
    * decimals sits far above summation-order noise. */
  def q117Centroids(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "e")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("e").cast("double")), 6).as("c"),
        count(lit(1)).as("n"))
      .orderBy("label", "pos")

  val q117Sql: String =
    """WITH x AS (SELECT label, unnest(embedding) AS e,
      |  unnest(range(len(embedding))) AS pos FROM embeddings)
      |SELECT label, pos, round(avg(CAST(e AS DOUBLE)), 6) AS c,
      |  count(*) AS n
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Market-basket co-occurrence — brand pairs bought together in one
    * order, with support counts: the association-mining candidate
    * scan. Baskets collapse map-side to sorted distinct brand sets
    * (orders are ≤7 lines, so the per-group buffer is bounded), pairs
    * expand in place (C(b,2) per basket — the q23 candidate-expansion
    * idiom), one count shuffle. The oracle is the (order, brand)
    * self-join this avoids running against the raw lineitem relation.
    */
  def q118BrandPairs(s: SparkSession, dir: String): DataFrame = {
    val ob = t(s, dir, "lineitem").alias("l")
      .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("o"), col("p_brand").as("b"))
      .distinct()
    ob.groupBy(col("o"))
      .agg(sort_array(collect_set(col("b"))).as("bs"))
      .filter(size(col("bs")) >= 2)
      .select(explode(expr(
        """flatten(transform(bs, (x, i) ->
          |  transform(slice(bs, i + 2, size(bs)),
          |            y -> struct(x AS brand_a, y AS brand_b))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.brand_a"), col("p.brand_b"))
      .agg(count(lit(1)).as("support"))
      .orderBy("brand_a", "brand_b")
  }

  val q118Sql: String =
    """WITH ob AS (SELECT DISTINCT l_orderkey AS o, p_brand AS b
      |  FROM lineitem JOIN part ON l_partkey = p_partkey)
      |SELECT a.b AS brand_a, c.b AS brand_b, count(*) AS support
      |FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Sketch-merged rolling distinct users — q97's 7-day DAU through
    * mergeable HLL: ONE per-day sketch table (days × 12 KB), then
    * each window unions its 7 member sketches — per-user rows shuffle
    * once total, where the exact plan re-shuffles every user×7 window
    * copies. THE sliding-distinct scale pattern (per-grain sketches
    * persist beside the data; any window, any length, re-aggregates
    * sketches only). Oracle-checked against the exact q97 counts via
    * the ±5% in-plan verdict (q65/q88 pattern). */
  def q119HllRollingDau(s: SparkSession, dir: String): DataFrame = {
    val perDay = t(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val mx = perDay.agg(max(col("day")).as("mday"))
    val est = perDay
      .select(col("sk"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"))
      .join(broadcast(mx), col("wday") <= col("mday"))
      .groupBy(col("wday").as("day"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
    val exact = q97RollingDau(s, dir)
    est.join(exact, Seq("day"))
      .select(col("day"), col("dau7"),
        (abs(col("est") - col("dau7")) <= col("dau7") * lit(0.05))
          .as("within_5pct"))
      .orderBy("day")
  }

  val q119Sql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |            FROM events WHERE user_id IS NOT NULL),
      |mx AS (SELECT max(day) AS mday FROM ud),
      |x AS (SELECT user_id,
      |        CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
      |          CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
      |          INTERVAL 1 DAY)) AS DATE) AS wday
      |      FROM ud)
      |SELECT wday AS day, count(DISTINCT user_id) AS dau7, true AS within_5pct
      |FROM x CROSS JOIN mx WHERE wday <= mday
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Triangle count over the brand co-purchase graph — q118's pair
    * edges promoted to a clustering-density measure
    * ([[graft.operators.Triangles]]: degree-ordered orientation, so
    * wedge volume is O(m^1.5)-bounded and each triangle counts once;
    * the closing check is a pure equi-join by rank transitivity). The
    * oracle replays the same count with the naive id-orientation
    * 3-way join — orientation choice cannot change the count. */
  def q120Triangles(s: SparkSession, dir: String): DataFrame = {
    val edges = q118BrandPairs(s, dir).select("brand_a", "brand_b")
    graft.operators.Triangles.triangleCount(edges, "brand_a", "brand_b")
      // wedge count is orientation-dependent (a per-plan diagnostic);
      // only the triangle count is orientation-invariant and oracled
      .select("triangles")
  }

  val q120Sql: String =
    """WITH ob AS (SELECT DISTINCT l_orderkey AS o, p_brand AS b
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |e AS (SELECT DISTINCT a.b AS x, c.b AS y
      |      FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b)
      |SELECT count(*) AS triangles
      |FROM e e1 JOIN e e2 ON e1.y = e2.x
      |  JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y""".stripMargin

  /** ABC / Pareto analysis — parts classed by cumulative revenue
    * share (A: first 70%, B: to 90%, C: tail), the inventory-
    * prioritization staple. Detail rows aggregate per brand first
    * (map-side combine), so the running-share window runs over the
    * BRAND-sized relation — the bounded-global-window pattern (q80's
    * contingency rule), never a window over lineitem. Revenue sums in
    * decimal (exact, order-independent); the share division happens
    * once per brand on exact inputs. */
  def q121AbcAnalysis(s: SparkSession, dir: String): DataFrame = {
    val byBrand = t(s, dir, "lineitem").alias("l")
      .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(col("l_extendedprice").cast(dec2)).as("rev"))
    // brand-count-sized relation — pinned intentional single task
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.plans.PinnedWindow.key(col("p_brand")))
      .orderBy(col("rev").desc, col("p_brand"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.plans.PinnedWindow.key(col("p_brand")))
    byBrand
      .withColumn("cum", sum(col("rev")).over(w))
      .withColumn("total", sum(col("rev")).over(wAll))
      // exact decimal sums → double BEFORE the division: both engines
      // then perform the identical IEEE divide (decimal-division
      // result scales differ between engines)
      .withColumn("share",
        col("cum").cast("double") / col("total").cast("double"))
      .select(col("p_brand"), col("rev").cast("double").as("rev"),
        round(col("share"), 6).as("cum_share"),
        when(col("share") <= 0.7, "A")
          .when(col("share") <= 0.9, "B").otherwise("C").as("abc"))
      .orderBy(col("rev").desc, col("p_brand"))
  }

  val q121Sql: String =
    """WITH b AS (SELECT p_brand,
      |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
      |m AS (SELECT p_brand, rev,
      |  sum(rev) OVER (ORDER BY rev DESC, p_brand
      |    ROWS UNBOUNDED PRECEDING) AS cum,
      |  sum(rev) OVER () AS total FROM b)
      |SELECT p_brand, CAST(rev AS DOUBLE) AS rev,
      |  round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share,
      |  CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.7 THEN 'A'
      |       WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.9 THEN 'B'
      |       ELSE 'C' END AS abc
      |FROM m ORDER BY rev DESC, p_brand""".stripMargin

  /** Record linkage — a corrupted nation register (first char
    * dropped, case mangled) resolved back to the clean dimension via
    * [[graft.sim.Linkage]]: blocked on region (no cross join),
    * Jaro–Winkler scored map-side, best match per dirty record
    * through the bounded top-1 heap. Every corrupted record must
    * resolve to its true source — asserted by the oracle replaying
    * the identical block/score/argmax in SQL. */
  def q122Linkage(s: SparkSession, dir: String): DataFrame = {
    val nation = t(s, dir, "nation")
    val dirty = nation.select(
      col("n_nationkey").as("d_key"),
      upper(substring(col("n_name"), 2, 100)).as("d_name"),
      col("n_regionkey").as("d_region"))
    graft.sim.Linkage.bestMatch(
        dirty, "d_key", nation, "n_nationkey",
        blockKeys = Seq(("d_region", "n_regionkey")),
        fields = Seq(("d_name", "n_name", 1.0)))
      .select(col("left_id").as("d_key"), col("right_id").as("matched_key"),
        round(col("score"), 6).as("score"))
      .orderBy("d_key")
  }

  val q122Sql: String =
    """WITH dirty AS (SELECT n_nationkey AS d_key,
      |  upper(substr(n_name, 2)) AS d_name, n_regionkey AS d_region
      |  FROM nation),
      |scored AS (SELECT d_key, n_nationkey AS matched_key,
      |  jaro_winkler_similarity(lower(d_name), lower(n_name)) AS score
      |  FROM dirty JOIN nation ON d_region = n_regionkey)
      |SELECT d_key, matched_key, round(score, 6) AS score FROM scored
      |QUALIFY row_number() OVER (PARTITION BY d_key
      |  ORDER BY score DESC, matched_key) = 1
      |ORDER BY d_key""".stripMargin

  /** Single-source BFS hop distances — degrees of separation over the
    * strongly-co-purchased brand graph ([[graft.operators.Bfs]]:
    * frontier iteration, one frontier-edge join + anti-join per
    * round, diameter-bounded). Source = lexicographically-first brand
    * in the thresholded graph (one scalar to the driver). The oracle
    * is the bounded recursive CTE with UNION dedup — min hops per
    * reached node. */
  def q123Bfs(s: SparkSession, dir: String): DataFrame = {
    val strong = q118BrandPairs(s, dir).filter(col("support") >= 400)
    val edges = strong.select(col("brand_a").as("x"), col("brand_b").as("y"))
      .unionByName(strong.select(col("brand_b").as("x"), col("brand_a").as("y")))
    val source = edges.agg(min(col("x"))).head.getString(0)
    graft.operators.Bfs.hops(edges, "x", "y", source, maxHops = 6)
      .orderBy("node")
  }

  val q123Sql: String =
    """WITH RECURSIVE ob AS (SELECT DISTINCT l_orderkey AS o, p_brand AS b
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |p AS (SELECT a.b AS x, c.b AS y, count(*) AS s
      |      FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b GROUP BY 1, 2),
      |ed AS (SELECT x, y FROM p WHERE s >= 400
      |       UNION ALL SELECT y, x FROM p WHERE s >= 400),
      |b(node, hops) AS (
      |  SELECT (SELECT min(x) FROM ed), 0
      |  UNION
      |  SELECT ed.y, b.hops + 1 FROM b JOIN ed ON b.node = ed.x
      |  WHERE b.hops < 6)
      |SELECT node, CAST(min(hops) AS BIGINT) AS hops FROM b
      |GROUP BY node ORDER BY node""".stripMargin

  /** Sorted-neighborhood blocking — customer candidate pairs within
    * 2 positions of each other in name order
    * ([[graft.sim.Linkage.sortedNeighborhoodPairs]]: exact
    * distributed global rank + bucketized rank-range join; the ER
    * candidate generator that survives typos in a hash blocking
    * key). The oracle replays the definition with a single
    * row_number + rank-distance self-join. */
  def q124SortedNeighborhood(s: SparkSession, dir: String): DataFrame =
    graft.sim.Linkage.sortedNeighborhoodPairs(
        t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name", w = 2)
      .orderBy("id_a", "id_b")

  val q124Sql: String =
    """WITH r AS (SELECT c_custkey AS id,
      |  row_number() OVER (ORDER BY c_name, c_custkey) AS rn
      |  FROM customer WHERE c_name IS NOT NULL)
      |SELECT a.id AS id_a, b.id AS id_b
      |FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 2
      |ORDER BY 1, 2""".stripMargin

  /** Period-over-period top movers — per-type volume in the corpus's
    * first two whole weeks, delta and relative change, biggest
    * absolute movers first. The "what changed since last week"
    * dashboard staple: one grouped count (map-side combining), a
    * two-row-per-key pivot via conditional sums, dim-sized output.
    * Week anchor = min event day (one scalar), so the window is
    * deterministic at any scale factor. */
  def q125TopMovers(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"),
        expr("floor(unix_timestamp(ts)) DIV 86400").as("day"))
    val d0 = ev.agg(min(col("day"))).head.getLong(0)
    ev.filter(col("day") < d0 + 14)
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("day") < d0 + 7, 1L).otherwise(0L)).as("c0"),
        sum(when(col("day") >= d0 + 7, 1L).otherwise(0L)).as("c1"))
      .withColumn("delta", col("c1") - col("c0"))
      .withColumn("pct_change",
        when(col("c0") =!= 0L, round(
          col("delta").cast("double") / col("c0").cast("double"), 6)))
      .orderBy(abs(col("delta")).desc, col("event_type"))
  }

  val q125Sql: String =
    """WITH ev AS (SELECT event_type,
      |  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
      |d0 AS (SELECT min(day) AS d FROM ev),
      |c AS (SELECT event_type,
      |  sum(CASE WHEN day < d + 7 THEN 1 ELSE 0 END) AS c0,
      |  sum(CASE WHEN day >= d + 7 THEN 1 ELSE 0 END) AS c1
      |  FROM ev CROSS JOIN d0 WHERE day < d + 14 GROUP BY 1)
      |SELECT event_type, CAST(c0 AS BIGINT) AS c0, CAST(c1 AS BIGINT) AS c1,
      |  CAST(c1 - c0 AS BIGINT) AS delta,
      |  CASE WHEN c0 <> 0 THEN
      |    round(CAST(c1 - c0 AS DOUBLE) / CAST(c0 AS DOUBLE), 6) END
      |    AS pct_change
      |FROM c ORDER BY abs(c1 - c0) DESC, event_type""".stripMargin

  /** Per-group winsorization audit — q113's clip with PER-SEGMENT
    * fences ([[Features.winsorizeByGroup]]): p05/p95 within each
    * return flag, counts of rows each group's fences compress. Same
    * determinism surface as q113 (counts + rounded fences). */
  def q126WinsorizeGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Features.winsorizeByGroup(t(s, dir, "lineitem"),
      "l_returnflag", "l_extendedprice", 0.05, 0.95, "clipped")
    w.groupBy(col("l_returnflag"))
      .agg(
        round(min(col("clipped")), 6).as("lo_fence"),
        round(max(col("clipped")), 6).as("hi_fence"),
        sum(when(col("l_extendedprice") < col("clipped"), 1L).otherwise(0L))
          .as("n_raised"),
        sum(when(col("l_extendedprice") > col("clipped"), 1L).otherwise(0L))
          .as("n_lowered"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  val q126Sql: String =
    """WITH b AS (SELECT l_returnflag,
      |  percentile_cont(0.05) WITHIN GROUP (ORDER BY l_extendedprice) AS lo,
      |  percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice) AS hi
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_returnflag,
      |  round(b.lo, 6) AS lo_fence, round(b.hi, 6) AS hi_fence,
      |  CAST(sum(CASE WHEN l_extendedprice < b.lo THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_raised,
      |  CAST(sum(CASE WHEN l_extendedprice > b.hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_lowered,
      |  count(*) AS n
      |FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  /** Per-document novelty — the fraction of a doc's distinct word
    * trigrams that appear NOWHERE else in the corpus (df = 1): the
    * inverse of q59's boilerplate signal (q59 finds the shared
    * templates; this scores how much of each document is its own).
    * One (doc, shingle) explode, one shingle-keyed df count, one
    * join back + per-doc aggregate — the TF-IDF plan shape with a
    * df==1 indicator instead of idf. */
  def q127Novelty(s: SparkSession, dir: String): DataFrame = {
    val ds = t(s, dir, "documents").select(col("doc_id"),
      explode(graft.functions.shingle_set(col("text"), 3)).as("sh"))
    val df = ds.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    ds.join(df, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        round(sum(when(col("df") === 1, 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double"), 6)
          .as("novel_frac"))
      .orderBy("doc_id")
  }

  val q127Sql: String =
    """WITH t AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(text, '\s+'), x->x<>'') toks
      |  FROM documents),
      |s AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
      |  THEN list_distinct(list_transform(generate_series(1, len(toks)-2),
      |       i -> array_to_string(list_slice(toks, i, i+2), ' ')))
      |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
      |d AS (SELECT sh, count(*) AS df FROM s GROUP BY 1)
      |SELECT doc_id, count(*) AS n_shingles,
      |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS novel_frac
      |FROM s JOIN d USING (sh)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Users-to-date growth curve — cumulative distinct users per day.
    * The naive formulation re-deduplicates an ever-growing prefix per
    * day (O(days × users)); the scale-correct identity is
    * "distinct-to-date = first-appearances so far": one groupBy for
    * each user's FIRST day, one day-sized count, one running sum over
    * the bounded day relation (q121's bounded-global-window pattern).
    * Days with no first-timers still appear via the observed-day
    * spine (left join + running sum over coalesced zeros). */
  def q128GrowthCurve(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firstSeen = ev.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val spine = ev.select(col("day")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.plans.PinnedWindow.key(col("day"))).orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    spine.join(firstSeen, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("users_to_date", sum(col("new_users")).over(w))
      .orderBy("day")
  }

  val q128Sql: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events
      |            WHERE user_id IS NOT NULL),
      |fs AS (SELECT user_id, min(day) AS day FROM ev GROUP BY 1),
      |nu AS (SELECT day, count(*) AS new_users FROM fs GROUP BY 1),
      |spine AS (SELECT DISTINCT day FROM ev)
      |SELECT spine.day, CAST(coalesce(nu.new_users, 0) AS BIGINT) AS new_users,
      |  CAST(sum(coalesce(nu.new_users, 0)) OVER (ORDER BY spine.day
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS users_to_date
      |FROM spine LEFT JOIN nu ON spine.day = nu.day
      |ORDER BY spine.day""".stripMargin

  /** Share-of-parent drill metric — each nation's customer-account
    * share within its region (the "% of parent" column every OLAP
    * drill-down shows). Fact rows aggregate to the nation grain
    * first (decimal-exact sums), so the share window runs over the
    * dim-sized relation partitioned by region — bounded windows, and
    * the division happens once per nation on exact inputs cast to
    * double (the q121 recipe). */
  def q129ShareOfParent(s: SparkSession, dir: String): DataFrame = {
    val byNation = t(s, dir, "customer").alias("c")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_regionkey").as("region"), col("n_name").as("nation"))
      .agg(sum(col("c_acctbal").cast(dec2)).as("bal"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("region"))
    byNation
      .withColumn("region_bal", sum(col("bal")).over(w))
      .select(col("region"), col("nation"),
        col("bal").cast("double").as("bal"),
        round(col("bal").cast("double") / col("region_bal").cast("double"), 6)
          .as("share_of_region"))
      .orderBy("region", "nation")
  }

  val q129Sql: String =
    """WITH b AS (SELECT n_regionkey AS region, n_name AS nation,
      |  sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |m AS (SELECT region, nation, bal,
      |  sum(bal) OVER (PARTITION BY region) AS region_bal FROM b)
      |SELECT region, nation, CAST(bal AS DOUBLE) AS bal,
      |  round(CAST(bal AS DOUBLE) / CAST(region_bal AS DOUBLE), 6)
      |    AS share_of_region
      |FROM m ORDER BY region, nation""".stripMargin

  /** Decile-style lift table — the model-evaluation staple: orders
    * binned into price quintiles ([[Features.quantileBins]] — exact
    * grid-rounded boundaries, q79's cross-engine contract), each
    * bin's fulfilled-rate over the global rate = lift. All counts are
    * exact integers; the two divisions happen per bin on exact
    * inputs (q121 recipe). */
  def q130Lift(s: SparkSession, dir: String): DataFrame = {
    val binned = Features.quantileBins(t(s, dir, "orders"),
        "o_totalprice", b = 5)
      .withColumn("hit", when(col("o_orderstatus") === "F", 1L).otherwise(0L))
    // quintile-count-sized relation — pinned intentional single task
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.plans.PinnedWindow.key(col("bin")))
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("hits"))
      .withColumn("tot_n", sum(col("n")).over(wAll))
      .withColumn("tot_hits", sum(col("hits")).over(wAll))
      .select(col("bin"), col("n"), col("hits"),
        round((col("hits").cast("double") / col("n").cast("double")) /
          (col("tot_hits").cast("double") / col("tot_n").cast("double")), 6)
          .as("lift"))
      .orderBy("bin")
  }

  val q130Sql: String =
    """WITH q AS (SELECT
      |  round(percentile_cont(0.2) WITHIN GROUP (ORDER BY o_totalprice), 6) AS q0,
      |  round(percentile_cont(0.4) WITHIN GROUP (ORDER BY o_totalprice), 6) AS q1,
      |  round(percentile_cont(0.6) WITHIN GROUP (ORDER BY o_totalprice), 6) AS q2,
      |  round(percentile_cont(0.8) WITHIN GROUP (ORDER BY o_totalprice), 6) AS q3
      |  FROM orders),
      |b AS (SELECT
      |  (CASE WHEN o_totalprice > q0 THEN 1 ELSE 0 END +
      |   CASE WHEN o_totalprice > q1 THEN 1 ELSE 0 END +
      |   CASE WHEN o_totalprice > q2 THEN 1 ELSE 0 END +
      |   CASE WHEN o_totalprice > q3 THEN 1 ELSE 0 END) AS bin,
      |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS hit
      |  FROM orders, q),
      |m AS (SELECT bin, count(*) AS n, sum(hit) AS hits FROM b GROUP BY 1),
      |t AS (SELECT sum(n) AS tn, sum(hits) AS th FROM m)
      |SELECT CAST(bin AS BIGINT) AS bin, n, CAST(hits AS BIGINT) AS hits,
      |  round((CAST(hits AS DOUBLE) / CAST(n AS DOUBLE)) /
      |        (CAST(th AS DOUBLE) / CAST(tn AS DOUBLE)), 6) AS lift
      |FROM m CROSS JOIN t ORDER BY bin""".stripMargin

  /** Adjusted Rand Index ([[graft.ml.Metrics.adjustedRandIndex]] —
    * sklearn's adjusted_rand_score, the reference's clustering-vs-
    * labels score) over a DETERMINISTIC pseudo-clustering (nation-key
    * fold vs market segment), so the metric computation itself is
    * oracle-checked; the specs cover it on real KMeans output. All
    * pair counts are exact BIGINTs; the three closing float ops are
    * written as the identical IEEE sequence in both engines. */
  def q131Ari(s: SparkSession, dir: String): DataFrame = {
    val assigned = t(s, dir, "customer").select(
      (col("c_nationkey") % 4).as("cluster"),
      col("c_mktsegment").as("label"))
    graft.ml.Metrics.adjustedRandIndex(assigned, "cluster", "label")
  }

  val q131Sql: String =
    """WITH cells AS (SELECT c_nationkey % 4 AS c, c_mktsegment AS l,
      |  count(*) AS n FROM customer GROUP BY 1, 2),
      |i AS (SELECT sum(n * (n - 1) // 2) AS sij, sum(n) AS nn FROM cells),
      |a AS (SELECT sum(t * (t - 1) // 2) AS sa FROM
      |  (SELECT sum(n) AS t FROM cells GROUP BY c)),
      |b AS (SELECT sum(t * (t - 1) // 2) AS sb FROM
      |  (SELECT sum(n) AS t FROM cells GROUP BY l))
      |SELECT round(CASE
      |    WHEN CAST(sa + sb AS DOUBLE) / 2.0 -
      |         CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
      |           / CAST(nn * (nn - 1) // 2 AS DOUBLE) = 0 THEN 1.0
      |    ELSE (CAST(sij AS DOUBLE) -
      |          CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
      |            / CAST(nn * (nn - 1) // 2 AS DOUBLE))
      |         / (CAST(sa + sb AS DOUBLE) / 2.0 -
      |            CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
      |              / CAST(nn * (nn - 1) // 2 AS DOUBLE))
      |  END, 6) AS ari,
      |  CAST(nn AS BIGINT) AS n_obs
      |FROM i, a, b""".stripMargin

  /** ROC operating points at fixed price thresholds
    * ([[graft.ml.Metrics.rocPoints]] — the reference's per-class
    * roc_curve, `deeplearning/evaluate.py:49-79`) for the
    * deterministic "fulfilled iff priced high" predictor: exact TP/FP
    * counts per threshold, TPR/FPR as the only float ops. */
  def q132Roc(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "orders").select(
      when(col("o_orderstatus") === "F", 1).otherwise(0).as("label"),
      col("o_totalprice").cast("double").as("score"))
    graft.ml.Metrics
      .rocPoints(scored, "label", "score",
        Seq(50000.0, 100000.0, 150000.0, 200000.0, 250000.0))
      .orderBy("threshold")
  }

  val q132Sql: String =
    """WITH p AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label,
      |  CAST(o_totalprice AS DOUBLE) AS score FROM orders),
      |th AS (SELECT unnest([5e4, 1e5, 15e4, 2e5, 25e4]) AS threshold),
      |m AS (SELECT threshold,
      |  sum(CASE WHEN label = 1 AND score >= threshold THEN 1 ELSE 0 END) AS tp,
      |  sum(CASE WHEN label = 0 AND score >= threshold THEN 1 ELSE 0 END) AS fp,
      |  sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS p,
      |  sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS n
      |  FROM p CROSS JOIN th GROUP BY threshold)
      |SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |  round(CAST(tp AS DOUBLE) / CAST(p AS DOUBLE), 6) AS tpr,
      |  round(CAST(fp AS DOUBLE) / CAST(n AS DOUBLE), 6) AS fpr
      |FROM m ORDER BY threshold""".stripMargin

  /** Exact binary AUC ([[graft.ml.Metrics.aucBinary]] — the
    * Mann–Whitney rank statistic, sklearn's roc_auc_score with
    * average-rank tie handling) for the same deterministic predictor:
    * the doubled rank sum keeps the numerator in exact integer
    * arithmetic, so the statistic is bit-stable across engines. */
  def q133Auc(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "orders").select(
      when(col("o_orderstatus") === "F", 1).otherwise(0).as("label"),
      col("o_totalprice").cast("double").as("score"))
    graft.ml.Metrics.aucBinary(scored, "label", "score")
  }

  val q133Sql: String =
    """WITH p AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label,
      |  CAST(o_totalprice AS DOUBLE) AS score FROM orders),
      |g AS (SELECT score AS s, count(*) AS ns,
      |  sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS ps
      |  FROM p GROUP BY score),
      |c AS (SELECT s, ns, ps, coalesce(sum(ns) OVER (ORDER BY s
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM g),
      |a AS (SELECT sum(ps * (cb * 2 + ns + 1)) AS num2,
      |  sum(ps) AS p, sum(ns - ps) AS n FROM c)
      |SELECT round(CAST(num2 - p * (p + 1) AS DOUBLE) /
      |    (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS auc,
      |  CAST(p AS BIGINT) AS positives, CAST(n AS BIGINT) AS negatives
      |FROM a""".stripMargin

  /** Per-class one-vs-rest ROC points
    * ([[graft.ml.Metrics.rocPointsPerClass]] — the reference's
    * per-class curves, `deeplearning/evaluate.py:49-79`) over three
    * deterministic per-class scores derived from order columns (cast
    * to double BEFORE the divisions so both engines run the identical
    * IEEE sequence). One melted shuffle of |classes|·|thresholds|
    * groups regardless of corpus size. */
  def q134RocPerClass(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val price = col("o_totalprice").cast("double")
    val scored = o.select(col("o_orderstatus").as("label"),
      (price / lit(600000.0)).as("s_o"),
      ((lit(600000.0) - price) / lit(600000.0)).as("s_f"),
      ((col("o_custkey") % 100).cast("double") / lit(100.0)).as("s_p"))
    graft.ml.Metrics.rocPointsPerClass(scored, "label",
        Seq("O" -> "s_o", "F" -> "s_f", "P" -> "s_p"),
        Seq(0.25, 0.5, 0.75))
      .orderBy("class", "threshold")
  }

  val q134Sql: String =
    """WITH base AS (SELECT o_orderstatus AS label,
      |  CAST(o_totalprice AS DOUBLE) / 600000.0 AS s_o,
      |  (600000.0 - CAST(o_totalprice AS DOUBLE)) / 600000.0 AS s_f,
      |  CAST(o_custkey % 100 AS DOUBLE) / 100.0 AS s_p FROM orders),
      |melted AS (
      |  SELECT 'O' AS class, CASE WHEN label = 'O' THEN 1 ELSE 0 END AS y,
      |    s_o AS s FROM base
      |  UNION ALL
      |  SELECT 'F', CASE WHEN label = 'F' THEN 1 ELSE 0 END, s_f FROM base
      |  UNION ALL
      |  SELECT 'P', CASE WHEN label = 'P' THEN 1 ELSE 0 END, s_p FROM base),
      |th AS (SELECT unnest([0.25, 0.5, 0.75]) AS threshold),
      |m AS (SELECT class, threshold,
      |  sum(CASE WHEN y = 1 AND s >= threshold THEN 1 ELSE 0 END) AS tp,
      |  sum(CASE WHEN y = 0 AND s >= threshold THEN 1 ELSE 0 END) AS fp,
      |  sum(y) AS p, sum(1 - y) AS n
      |  FROM melted CROSS JOIN th GROUP BY class, threshold)
      |SELECT class, threshold, CAST(tp AS BIGINT) AS tp,
      |  CAST(fp AS BIGINT) AS fp,
      |  round(CAST(tp AS DOUBLE) / CAST(p AS DOUBLE), 6) AS tpr,
      |  round(CAST(fp AS DOUBLE) / CAST(n AS DOUBLE), 6) AS fpr
      |FROM m ORDER BY class, threshold""".stripMargin

  /** Regression evaluation report ([[graft.ml.Metrics.regressionReport]]
    * — the reference's MSE/R² scoring, `machineLearning.py:624-626`)
    * for a DETERMINISTIC linear predictor over order prices, so the
    * metric computation itself is oracle-checked (model predictions
    * aren't SQL-reproducible; the report operator is). Residual terms
    * grid-rounded and decimal-summed — order-independent. */
  def q135Regression(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val scored = o.select(col("o_totalprice").cast("double").as("y"),
      (lit(50000.0) + lit(2.0) * (col("o_custkey") % 1000).cast("double"))
        .as("pred"))
    graft.ml.Metrics.regressionReport(scored, "y", "pred")
  }

  val q135Sql: String =
    """WITH p AS (SELECT CAST(o_totalprice AS DOUBLE) AS y,
      |  50000.0 + 2.0 * CAST(o_custkey % 1000 AS DOUBLE) AS pred FROM orders),
      |s AS (SELECT count(*) AS n,
      |  CAST(sum(CAST(round(y, 6) AS DECIMAL(30,6))) AS DOUBLE) AS sy FROM p),
      |m AS (SELECT n, sy / CAST(n AS DOUBLE) AS ybar FROM s),
      |a AS (SELECT n,
      |  CAST(sum(CAST(round((y - pred) * (y - pred), 9) AS DECIMAL(38,9)))
      |    AS DOUBLE) AS ssres,
      |  CAST(sum(CAST(round(abs(y - pred), 9) AS DECIMAL(38,9)))
      |    AS DOUBLE) AS sae,
      |  CAST(sum(CAST(round((y - ybar) * (y - ybar), 9) AS DECIMAL(38,9)))
      |    AS DOUBLE) AS sstot
      |  FROM p CROSS JOIN m GROUP BY n)
      |SELECT CAST(n AS BIGINT) AS n,
      |  round(ssres / CAST(n AS DOUBLE), 6) AS mse,
      |  round(sqrt(ssres / CAST(n AS DOUBLE)), 6) AS rmse,
      |  round(sae / CAST(n AS DOUBLE), 6) AS mae,
      |  round(1.0 - ssres / sstot, 6) AS r2
      |FROM a""".stripMargin

  /** Dense confusion matrix ([[graft.ml.Metrics.confusionMatrix]] —
    * `evaluate.py:43-44`) for q54's deterministic rule predictor:
    * square over the class union (P never predicted → zero column),
    * exact long cells. */
  def q136Confusion(s: SparkSession, dir: String): DataFrame = {
    val pred = t(s, dir, "orders").select(
      col("o_orderstatus").as("label"),
      when(col("o_totalprice") > 150000, lit("F")).otherwise(lit("O")).as("pred"))
    graft.ml.Metrics.confusionMatrix(pred, "label", "pred")
  }

  val q136Sql: String =
    """WITH p AS (SELECT o_orderstatus AS label,
      |  CASE WHEN o_totalprice > 150000 THEN 'F' ELSE 'O' END AS pred
      |  FROM orders)
      |SELECT label,
      |  CAST(sum(CASE WHEN pred = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
      |  CAST(sum(CASE WHEN pred = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
      |  CAST(sum(CASE WHEN pred = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
      |FROM p GROUP BY label ORDER BY label""".stripMargin

  /** Conversion funnel view → click → purchase over the event log
    * ([[graft.operators.Funnel]]): strictly-ordered first-touch stage
    * progression per user, summarized to per-stage reach counts +
    * conversion rates. Each stage is one entity-keyed join + min-agg
    * of that stage's event slice — the log never shuffles whole. */
  def q137Funnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.counts(t(s, dir, "events"), "user_id",
      "event_type", "ts", Seq("view", "click", "purchase"))

  val q137Sql: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |  JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |  JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
      |u AS (SELECT (SELECT count(*) FROM s1) AS u1,
      |  (SELECT count(*) FROM s2) AS u2,
      |  (SELECT count(*) FROM s3) AS u3)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
      |    CAST(u1 AS BIGINT) AS users, CAST(1.0 AS DOUBLE) AS conversion FROM u
      |  UNION ALL
      |  SELECT 2, 'click', CAST(u2 AS BIGINT),
      |    CASE WHEN u1 = 0 THEN NULL
      |      ELSE round(CAST(u2 AS DOUBLE) / CAST(u1 AS DOUBLE), 6) END FROM u
      |  UNION ALL
      |  SELECT 3, 'purchase', CAST(u3 AS BIGINT),
      |    CASE WHEN u2 = 0 THEN NULL
      |      ELSE round(CAST(u3 AS DOUBLE) / CAST(u2 AS DOUBLE), 6) END FROM u)
      |ORDER BY stage""".stripMargin

  /** Weekly cohort retention matrix over the event log
    * ([[graft.olap.Retention.cohortMatrix]]): users cohorted by
    * first-activity week, per-(cohort, offset) distinct-active counts
    * over a (cohorts × weeks)-sized result. Exact-count division at
    * the edge. */
  def q138Retention(s: SparkSession, dir: String): DataFrame =
    graft.olap.Retention.cohortMatrix(t(s, dir, "events"), "user_id",
      "ts", periodDays = 7)

  val q138Sql: String =
    """WITH a AS (SELECT DISTINCT user_id,
      |  CAST(floor(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) / 7.0)
      |    AS BIGINT) AS p
      |  FROM events),
      |c AS (SELECT user_id, min(p) AS c FROM a GROUP BY 1),
      |s AS (SELECT c, count(*) AS cohort_size FROM c GROUP BY 1),
      |m AS (SELECT a.p - c.c AS period_offset, c.c, count(*) AS active
      |  FROM a JOIN c USING (user_id) GROUP BY 1, 2)
      |SELECT CAST(DATE '1970-01-01' + INTERVAL (m.c * 7) DAY AS DATE)
      |    AS cohort_start,
      |  period_offset, active, cohort_size,
      |  round(CAST(active AS DOUBLE) / CAST(cohort_size AS DOUBLE), 6)
      |    AS retention
      |FROM m JOIN s USING (c)
      |ORDER BY cohort_start, period_offset""".stripMargin

  /** First-order event transition matrix
    * ([[graft.operators.Paths.transitionMatrix]]): per-user event
    * sequences (ts + event_id tiebreak — unique order, engine-stable)
    * reduced to row-normalized (from → to) probabilities over the
    * event-types² cell space. */
  def q139Transitions(s: SparkSession, dir: String): DataFrame =
    graft.operators.Paths.transitionMatrix(t(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id")
      .orderBy("from", "to")

  val q139Sql: String =
    """WITH p AS (SELECT event_type AS f,
      |  lead(event_type) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS t
      |  FROM events),
      |m AS (SELECT f, t, count(*) AS cnt FROM p
      |  WHERE t IS NOT NULL GROUP BY 1, 2),
      |s AS (SELECT f, sum(cnt) AS tot FROM m GROUP BY 1)
      |SELECT m.f AS "from", m.t AS "to", cnt,
      |  round(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS prob
      |FROM m JOIN s USING (f)
      |ORDER BY "from", "to"""".stripMargin

  /** Robust outlier screen ([[Features.madOutliers]]): per-returnflag
    * MAD scores over extended price, summarized to counts + max score
    * per group (group-sized result; flag computed on the grid-rounded
    * score so both engines compare identical doubles). */
  def q140MadOutliers(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice").cast("double")
        .as("price"))
    // Exact (buffering) beats ExactRank here — 3 bounded groups fit
    // aggregation buffers, and the rank path's two range exchanges cost
    // more than they save (3.7 vs 5.2 s at sf0.1); ExactRank is the
    // few-HUGE-groups contract, q151 proves its exactness
    Features.madOutliers(li, "l_returnflag", "price", k = 4.0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("outliers"),
        max(col("mad_score")).as("max_score"))
      .orderBy("l_returnflag")
  }

  val q140Sql: String =
    """WITH li AS (SELECT l_returnflag AS f,
      |  CAST(l_extendedprice AS DOUBLE) AS price FROM lineitem),
      |med AS (SELECT f, percentile_cont(0.5) WITHIN GROUP (ORDER BY price)
      |  AS med FROM li GROUP BY 1),
      |mad AS (SELECT li.f, percentile_cont(0.5) WITHIN GROUP
      |  (ORDER BY abs(price - med)) AS mad
      |  FROM li JOIN med USING (f) GROUP BY li.f),
      |sc AS (SELECT li.f, CASE WHEN mad != 0
      |    THEN round(abs(price - med) / mad, 6) END AS score
      |  FROM li JOIN med USING (f) JOIN mad USING (f))
      |SELECT f AS l_returnflag, count(*) AS n,
      |  CAST(sum(CASE WHEN score > 4.0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS outliers,
      |  max(score) AS max_score
      |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin

  /** Time-weighted average of event values per type
    * ([[Features.timeWeightedAvg]]): irregular observations weighted
    * by holding duration, value×duration in exact DECIMAL, one
    * division per series at the edge. */
  def q141Twap(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_type"),
      unix_timestamp(col("ts")).as("sec"), col("event_id"), col("value"))
    // day chunks: event_type is ~5 values, so the unchunked lead
    // window would sort each type's whole history in ONE task; the
    // chunked path is bit-identical (spec'd) with type×day parallelism
    Features.timeWeightedAvg(e, "event_type", "sec", "event_id", "value",
        chunkSeconds = 86400L)
      .orderBy("event_type")
  }

  val q141Sql: String =
    """WITH e AS (SELECT event_type,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id, value FROM events),
      |p AS (SELECT event_type, value,
      |  lead(sec) OVER (PARTITION BY event_type ORDER BY sec, event_id) - sec
      |    AS dur FROM e),
      |a AS (SELECT event_type, count(*) AS obs_used,
      |  sum(CAST(CAST(value AS DECIMAL(18,6)) * dur AS DECIMAL(38,6))) AS vw,
      |  sum(dur) AS w
      |  FROM p WHERE dur IS NOT NULL AND value IS NOT NULL GROUP BY 1)
      |SELECT event_type, CAST(obs_used AS BIGINT) AS obs_used,
      |  round(CAST(vw AS DOUBLE) / CAST(w AS DOUBLE), 6) AS twap
      |FROM a ORDER BY event_type""".stripMargin

  /** Golden-record survivorship ([[graft.sim.Linkage.goldenRecords]])
    * over a deterministic pseudo-clustering: latest-by-key name and
    * balance, most-frequent segment — every winner reproducible via
    * plain arg-max/window SQL, so the survivorship rules themselves
    * are oracle-checked. */
  def q142Golden(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(
      (col("c_custkey") % 50).as("cl"), col("c_custkey"), col("c_name"),
      col("c_mktsegment"), col("c_acctbal").cast("double").as("c_acctbal"))
    graft.sim.Linkage.goldenRecords(c, "cl", Seq(
        "c_name" -> graft.sim.Linkage.Latest("c_custkey"),
        "c_acctbal" -> graft.sim.Linkage.Latest("c_custkey"),
        "c_mktsegment" -> graft.sim.Linkage.MostFrequent))
      .orderBy("cl")
  }

  val q142Sql: String =
    """WITH b AS (SELECT c_custkey % 50 AS cl, c_custkey, c_name,
      |  c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal FROM customer),
      |lat AS (SELECT cl, arg_max(c_name, c_custkey) AS c_name,
      |  arg_max(c_acctbal, c_custkey) AS c_acctbal FROM b GROUP BY 1),
      |mf AS (SELECT cl, c_mktsegment, count(*) AS n FROM b GROUP BY 1, 2),
      |w AS (SELECT cl, c_mktsegment FROM (SELECT cl, c_mktsegment,
      |  row_number() OVER (PARTITION BY cl
      |    ORDER BY n DESC, c_mktsegment DESC) AS rn FROM mf) WHERE rn = 1)
      |SELECT lat.cl, lat.c_name, lat.c_acctbal, w.c_mktsegment
      |FROM lat JOIN w USING (cl) ORDER BY cl""".stripMargin

  /** Calibration bins ([[graft.ml.Metrics.calibrationBins]]) for the
    * deterministic price-derived score: mean predicted vs observed
    * rate per decile bin — decimal-summed scores, exact counts. */
  def q143Calibration(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "orders").select(
      when(col("o_orderstatus") === "F", 1).otherwise(0).as("label"),
      ((lit(600000.0) - col("o_totalprice").cast("double")) / lit(600000.0))
        .as("score"))
    graft.ml.Metrics.calibrationBins(scored, "label", "score", bins = 10)
      .orderBy("bin")
  }

  val q143Sql: String =
    """WITH p AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label,
      |  (600000.0 - CAST(o_totalprice AS DOUBLE)) / 600000.0 AS s FROM orders)
      |SELECT CAST(least(greatest(floor(s * 10), 0), 9) AS BIGINT) AS bin,
      |  count(*) AS n,
      |  CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS positives,
      |  round(CAST(sum(CAST(round(s, 6) AS DECIMAL(30,6))) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS mean_score,
      |  round(CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS pos_rate
      |FROM p GROUP BY 1 ORDER BY bin""".stripMargin

  /** Gini concentration of order revenue ([[graft.ml.Metrics.gini]]):
    * tie-aware exact rank formulation over the distinct-value
    * relation — the q133 bounded-window pattern. */
  def q144Gini(s: SparkSession, dir: String): DataFrame =
    graft.ml.Metrics.gini(t(s, dir, "orders"), "o_totalprice")

  val q144Sql: String =
    """WITH g AS (SELECT CAST(o_totalprice AS DECIMAL(18,6)) AS v,
      |  count(*) AS nv FROM orders GROUP BY 1),
      |c AS (SELECT v, nv, coalesce(sum(nv) OVER (ORDER BY v
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM g),
      |a AS (SELECT
      |  sum(CAST(v * (nv * cum + nv * (nv + 1) // 2) AS DECIMAL(38,6))) AS s,
      |  sum(CAST(v * nv AS DECIMAL(38,6))) AS t, sum(nv) AS n FROM c)
      |SELECT round((2.0 * CAST(s AS DOUBLE)
      |    - CAST(n + 1 AS DOUBLE) * CAST(t AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS gini,
      |  CAST(n AS BIGINT) AS n
      |FROM a""".stripMargin

  /** Market-basket pair rules ([[graft.operators.Basket.pairRules]])
    * over order line items folded to a 100-item catalog: support /
    * confidence / lift from exact counts, pair space bounded by
    * basket size via the `a < b` self-join. */
  def q145Basket(s: SparkSession, dir: String): DataFrame =
    graft.operators.Basket.pairRules(
        t(s, dir, "lineitem").select(col("l_orderkey"),
          (col("l_partkey") % 100).as("item")),
        "l_orderkey", "item", minPairCount = 30L)
      .orderBy("antecedent", "consequent")

  val q145Sql: String =
    """WITH it AS (SELECT DISTINCT l_orderkey AS t, l_partkey % 100 AS i
      |  FROM lineitem),
      |n AS (SELECT count(DISTINCT t) AS n FROM it),
      |s AS (SELECT i, count(*) AS ni FROM it GROUP BY 1),
      |p AS (SELECT x.i AS a, y.i AS b, count(*) AS nab
      |  FROM it x JOIN it y ON x.t = y.t AND x.i < y.i
      |  GROUP BY 1, 2 HAVING count(*) >= 30),
      |m AS (SELECT a, b, nab, sa.ni AS na, sb.ni AS nb, n.n
      |  FROM p JOIN s sa ON p.a = sa.i JOIN s sb ON p.b = sb.i CROSS JOIN n)
      |SELECT * FROM (
      |  SELECT a AS antecedent, b AS consequent, nab AS pair_count,
      |    round(CAST(nab AS DOUBLE) / CAST(n AS DOUBLE), 6) AS support,
      |    round(CAST(nab AS DOUBLE) / CAST(na AS DOUBLE), 6) AS confidence,
      |    round(CAST(nab AS DOUBLE) * CAST(n AS DOUBLE)
      |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS lift
      |  FROM m
      |  UNION ALL
      |  SELECT b, a, nab,
      |    round(CAST(nab AS DOUBLE) / CAST(n AS DOUBLE), 6),
      |    round(CAST(nab AS DOUBLE) / CAST(nb AS DOUBLE), 6),
      |    round(CAST(nab AS DOUBLE) * CAST(n AS DOUBLE)
      |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6)
      |  FROM m)
      |ORDER BY antecedent, consequent""".stripMargin

  /** CUSUM drift summary per event type
    * ([[Features.cusumDeviation]]): max |running deviation| and
    * threshold-crossing counts from decimal-exact score sequences. */
  def q146Cusum(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_type"),
      unix_timestamp(col("ts")).as("sec"), col("event_id"), col("value"))
    // raw rows keyed by ~5 event types: the unchunked prefix scan is
    // 5 single-task sorts; day chunks are bit-identical (spec'd)
    Features.cusumDeviation(e, "event_type", "sec", "event_id", "value",
        chunkSeconds = 86400L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(max(abs(col("cusum"))).cast("double"), 6).as("max_abs_cusum"),
        sum(when(abs(col("cusum")) > 1000, 1L).otherwise(0L))
          .as("crossings"))
      .orderBy("event_type")
  }

  val q146Sql: String =
    """WITH e AS (SELECT event_type,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id,
      |  CAST(value AS DECIMAL(18,6)) AS v FROM events),
      |mu AS (SELECT event_type,
      |  CAST(round(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |    AS DECIMAL(18,6)) AS mu
      |  FROM e WHERE v IS NOT NULL GROUP BY 1),
      |c AS (SELECT e.event_type,
      |  sum(v - mu) OVER (PARTITION BY e.event_type
      |    ORDER BY sec, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      |  FROM e JOIN mu USING (event_type))
      |SELECT event_type, count(*) AS n,
      |  round(CAST(max(abs(cusum)) AS DOUBLE), 6) AS max_abs_cusum,
      |  CAST(sum(CASE WHEN abs(cusum) > 1000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS crossings
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** Approximate quantiles with a CHECKED error bound (the q65
    * in-plan-verdict pattern for sketches): `approx_percentile`
    * (Greenwald–Khanna mergeable sketch — the 100 TB quantile path
    * `quantileBins`/`winsorize` document swapping to) against the
    * exact percentile, asserting the value lands within the ±1%
    * RANK tolerance the accuracy parameter promises — realized here
    * as the exact 49th–51st percentile bracket. */
  def q147ApproxQuantile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"), 6)
          .as("exact_p50"),
        expr("percentile_cont(0.49) WITHIN GROUP (ORDER BY l_extendedprice)")
          .as("__lo"),
        expr("percentile_cont(0.51) WITHIN GROUP (ORDER BY l_extendedprice)")
          .as("__hi"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("__a"))
      .select(col("l_returnflag"), col("exact_p50"),
        (col("__a") >= col("__lo") && col("__a") <= col("__hi"))
          .as("within_rank_tol"))
      .orderBy("l_returnflag")

  val q147Sql: String =
    """SELECT l_returnflag,
      |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 6)
      |    AS exact_p50,
      |  true AS within_rank_tol
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-priority revenue concentration
    * ([[graft.ml.Metrics.giniByGroup]]): the partitioned (scale-
    * native) Gini — one shuffle, no global window. */
  def q148GiniByGroup(s: SparkSession, dir: String): DataFrame =
    graft.ml.Metrics.giniByGroup(t(s, dir, "orders"),
        "o_orderpriority", "o_totalprice")
      .orderBy("o_orderpriority")

  val q148Sql: String =
    """WITH g AS (SELECT o_orderpriority AS gp,
      |  CAST(o_totalprice AS DECIMAL(18,6)) AS v, count(*) AS nv
      |  FROM orders GROUP BY 1, 2),
      |c AS (SELECT gp, v, nv, coalesce(sum(nv) OVER (PARTITION BY gp
      |  ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS cum FROM g),
      |a AS (SELECT gp,
      |  sum(CAST(v * (nv * cum + nv * (nv + 1) // 2) AS DECIMAL(38,6))) AS s,
      |  sum(CAST(v * nv AS DECIMAL(38,6))) AS t, sum(nv) AS n
      |  FROM c GROUP BY 1)
      |SELECT gp AS o_orderpriority,
      |  round((2.0 * CAST(s AS DOUBLE)
      |    - CAST(n + 1 AS DOUBLE) * CAST(t AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS gini,
      |  CAST(n AS BIGINT) AS n
      |FROM a ORDER BY o_orderpriority""".stripMargin

  /** Time-to-convert distribution over the q137 funnel
    * ([[graft.operators.Funnel.reachTimes]]): among completers,
    * seconds from first view to purchase — exact count/min/max and
    * the exact interpolated median. Puts the reach TIMESTAMPS (not
    * just counts) under the oracle. */
  def q149TimeToConvert(s: SparkSession, dir: String): DataFrame = {
    val reach = graft.operators.Funnel.reachTimes(t(s, dir, "events"),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
    reach.filter(col("ts_3").isNotNull)
      .select((unix_timestamp(col("ts_3")) - unix_timestamp(col("ts_1")))
        .as("sec"))
      .agg(count(lit(1)).as("converters"),
        min(col("sec")).as("min_s"), max(col("sec")).as("max_s"),
        round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY sec)"), 6)
          .as("median_s"))
  }

  val q149Sql: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |  JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |  JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
      |d AS (SELECT CAST(floor(epoch(t3)) AS BIGINT)
      |    - CAST(floor(epoch(t1)) AS BIGINT) AS sec
      |  FROM s3 JOIN s1 USING (user_id))
      |SELECT count(*) AS converters, min(sec) AS min_s, max(sec) AS max_s,
      |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY sec), 6) AS median_s
      |FROM d""".stripMargin

  /** RFM segmentation — the classic customer-scoring matrix: each
    * customer quintile-scored on Recency (latest order day),
    * Frequency (order count), and Monetary (decimal-exact spend),
    * reduced to the ≤125-cell segment distribution. Three
    * [[Features.quantileBins]] passes over the customer-grain
    * aggregate (grid-rounded boundaries — the q130 cross-engine
    * contract); everything else is exact counting. */
  def q150Rfm(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        datediff(max(col("o_orderdate")), to_date(lit("1970-01-01")))
          .cast("double").as("rec"),
        count(lit(1)).cast("double").as("freq"),
        sum(col("o_totalprice").cast(dec2)).cast("double").as("mon"))
    // all 12 quintile boundaries in ONE aggregate pass (folding
    // quantileBins three times runs the orders scan+groupBy once per
    // call — four executions total; this is two: boundaries + final).
    // Same round-6 grid as quantileBins, so the oracle is unchanged.
    val dims = Seq(("rec", "r"), ("freq", "f"), ("mon", "m"))
    val fracs = (1 until 5).map(i => i / 5.0)
    val aggs = dims.flatMap { case (v, _) => fracs.zipWithIndex.map {
      case (f, i) =>
        round(expr(s"percentile_cont($f) WITHIN GROUP (ORDER BY $v)"), 6)
          .as(s"q_${v}_$i")
    } }
    val row = cust.agg(aggs.head, aggs.tail: _*).head()
    require(!row.isNullAt(0),
      "q150: no customers in orders (empty input?)")
    val scored = dims.zipWithIndex.foldLeft(cust) { case (acc, ((v, b), d)) =>
      acc.withColumn(b,
        fracs.indices.map(i =>
            when(col(v) > lit(row.getDouble(d * 4 + i)), 1L).otherwise(0L))
          .reduce[Column](_ + _))
    }
    scored.groupBy(col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("customers"))
      .orderBy("r", "f", "m")
  }

  val q150Sql: String = {
    def grid(v: String) = (0 to 3).map(i =>
      s"round(percentile_cont(0.${2 * (i + 1)}) WITHIN GROUP (ORDER BY $v), 6) AS ${v}_q$i")
      .mkString(", ")
    def score(v: String) = (0 to 3).map(i =>
      s"CASE WHEN $v > ${v}_q$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH cust AS (SELECT o_custkey,
      |  CAST(date_diff('day', DATE '1970-01-01', max(o_orderdate)) AS DOUBLE)
      |    AS rec,
      |  CAST(count(*) AS DOUBLE) AS freq,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS mon
      |  FROM orders GROUP BY 1),
      |q AS (SELECT ${grid("rec")}, ${grid("freq")}, ${grid("mon")} FROM cust),
      |sc AS (SELECT CAST(${score("rec")} AS BIGINT) AS r,
      |  CAST(${score("freq")} AS BIGINT) AS f,
      |  CAST(${score("mon")} AS BIGINT) AS m
      |  FROM cust CROSS JOIN q)
      |SELECT r, f, m, count(*) AS customers
      |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  /** Exact per-group quartiles via DISTRIBUTED order statistics
    * ([[Features.groupPercentilesRank]], the `ExactRank` strategy): no
    * aggregation buffer ever holds a group's values — range-partitioned
    * two-phase rank, bracketing order stats picked by a bounded join,
    * percentile_cont's own interpolation. The oracle recomputes the
    * same quartiles with DuckDB's `percentile_cont` aggregate, so the
    * rank machinery is proven bit-compatible (round-6 edge grid) with
    * the buffering aggregate it replaces — the exactness proof behind
    * recommending ExactRank for few-huge-group corpora at 100 TB. */
  def q151RankPercentile(s: SparkSession, dir: String): DataFrame =
    graft.features.Features.groupPercentilesRank(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_extendedprice").cast("double").as("v")),
        "l_returnflag", col("v"),
        Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75"))
      .select(col("l_returnflag"), round(col("p25"), 6).as("p25"),
        round(col("p50"), 6).as("p50"), round(col("p75"), 6).as("p75"))
      .orderBy("l_returnflag")

  val q151Sql: String =
    """SELECT l_returnflag,
      | round(percentile_cont(0.25) WITHIN GROUP (ORDER BY CAST(l_extendedprice AS DOUBLE)), 6) AS p25,
      | round(percentile_cont(0.5) WITHIN GROUP (ORDER BY CAST(l_extendedprice AS DOUBLE)), 6) AS p50,
      | round(percentile_cont(0.75) WITHIN GROUP (ORDER BY CAST(l_extendedprice AS DOUBLE)), 6) AS p75
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Training-data mixture to a cost budget
    * ([[Features.budgetMixSample]]): language weights fill a global
    * character budget in deterministic md5 priority, unlisted
    * languages drop. Output is the per-language doc count and chars
    * actually taken — what a mixture-planning report shows. The oracle
    * replays the identical quota constants (driver-computed, inlined
    * as literals — no float path to diverge) and the identical
    * md5-ranked cumulative-cost cut in DuckDB. */
  private val q152Weights =
    Seq("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "zh" -> 0.1)
  private val q152Budget = 40000L

  def q152TokenMixture(s: SparkSession, dir: String): DataFrame =
    graft.features.Features.budgetMixSample(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        domainCol = "lang", keyCol = "doc_id", costCol = "n_chars",
        weights = q152Weights.toMap, budget = q152Budget)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
      .orderBy("lang")

  val q152Sql: String = {
    // key-sorted sum — the exact float-addition order budgetMixSample
    // uses, so oracle and engine quotas are bit-identical at any map size
    val ordered = q152Weights.sortBy(_._1)
    val wsum = ordered.map(_._2).sum
    val quotaRows = ordered.map { case (d, w) =>
      s"('$d', ${math.floor(q152Budget * w / wsum).toLong})"
    }.mkString(", ")
    s"""WITH q(lang, quota) AS (VALUES $quotaRows),
      |r AS (SELECT doc_id, d.lang, n_chars, quota,
      |        coalesce(sum(n_chars) OVER (PARTITION BY d.lang
      |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |      FROM documents d JOIN q ON d.lang = q.lang)
      |SELECT lang, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM r WHERE cum < quota
      |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Canonical representative per near-dup cluster — the dedup
    * KEEP-BEST policy (clusters from [[Dedup.dupClusters]], quality
    * from [[TextOps.qualityScore]]): per cluster, the highest-quality
    * doc wins, ties to the smallest doc_id. One grouped max over a
    * (quality, −id) struct on the cluster relation — no window, no
    * per-cluster sort. The oracle replays the q64 connected-components
    * CTE + the q20 quality expression and picks via ORDER BY rn. */
  def q153ClusterRep(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val clusters = Dedup.dupClusters(
      Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.9))
    clusters
      .join(docs.select(col("doc_id").as("id"),
        round(TextOps.qualityScore(col("text")), 6).as("q")), Seq("id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("csize"),
        max(struct(col("q").as("q"), negate(col("id")).as("nid"))).as("__b"))
      .select(col("cluster"), col("csize"),
        negate(col("__b.nid")).as("rep_doc_id"), col("__b.q").as("rep_quality"))
      .orderBy("cluster")
  }

  val q153Sql: String =
    s"""WITH RECURSIVE $dupClusterCteSql,
      |cc AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
      |qual AS (SELECT doc_id, round($qualityExprSql, 6) AS q FROM documents),
      |ranked AS (SELECT cc.cluster, cc.id, qual.q,
      |    row_number() OVER (PARTITION BY cc.cluster
      |      ORDER BY qual.q DESC, cc.id) AS rn,
      |    count(*) OVER (PARTITION BY cc.cluster) AS csize
      |  FROM cc JOIN qual ON qual.doc_id = cc.id)
      |SELECT cluster, CAST(csize AS BIGINT) AS csize, id AS rep_doc_id,
      |  q AS rep_quality
      |FROM ranked WHERE rn = 1 ORDER BY cluster""".stripMargin

  /** Sub-document dedup via directional shingle containment
    * ([[Dedup.containmentPairs]]): |A∩B|/|A| over an inverted shingle
    * index — the quote/subset detector symmetric Jaccard (q23/q64)
    * misses. The oracle recomputes every pair's containment from the
    * shared exact-shingle CTE with DuckDB list ops (O(n²) oracle
    * formulation; the engine side stays index-bounded). */
  def q154Containment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8)
      .orderBy("id_a", "id_b")

  val q154Sql: String =
    s"""WITH $shingleCteSql,
      |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / len(a.sh), 6) AS containment
      |  FROM s a JOIN s b ON a.doc_id <> b.doc_id)
      |SELECT id_a, id_b, containment FROM c
      |WHERE containment >= 0.8 ORDER BY id_a, id_b""".stripMargin

  /** Per-group rank normalization ([[Features.rankNormalize]]):
    * percent_rank semantics computed on the distinct-value relation
    * with the two-phase distributed rank — no per-group single-task
    * window, no per-row sort. The oracle is DuckDB's own
    * `percent_rank()` window, so tie handling ((rank−1)/(n−1), ties
    * share the min rank) is proven identical. */
  def q155RankNormalize(s: SparkSession, dir: String): DataFrame =
    graft.features.Features.rankNormalize(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice").cast("double").as("v")),
        "l_returnflag", "v", outCol = "rn")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        round(col("rn"), 6).as("rn"))
      .orderBy("l_orderkey", "l_linenumber")

  val q155Sql: String =
    """SELECT l_orderkey, l_linenumber, l_returnflag,
      |  round(percent_rank() OVER (PARTITION BY l_returnflag
      |    ORDER BY CAST(l_extendedprice AS DOUBLE)), 6) AS rn
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** DSIR-style hashed-unigram importance weights
    * ([[graft.text.Importance.importanceWeights]], after Xie et al.
    * 2023): target slice = the English docs, raw = the whole corpus;
    * each document scores the mean smoothed log-likelihood ratio of
    * its token stream over 256 md5-hashed feature buckets. One token
    * explode, one 256-group aggregate, model re-joined as a broadcast
    * — the constant-size-model trick that makes the method web-scale. */
  def q156Dsir(s: SparkSession, dir: String): DataFrame =
    graft.text.Importance.importanceWeights(
        t(s, dir, "documents"), "doc_id", "text", col("lang") === "en")
      .orderBy("doc_id")

  val q156Sql: String =
    """WITH toks AS (SELECT doc_id, lang = 'en' AS t,
      |  unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |  FROM documents),
      |b AS (SELECT doc_id, t, substr(md5(tok), 1, 2) AS b FROM toks),
      |c AS (SELECT b, sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct, count(*) AS cr
      |      FROM b GROUP BY b),
      |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM c),
      |w AS (SELECT b, ln((ct + 1.0) / (tt + 256.0))
      |             - ln((cr + 1.0) / (tr + 256.0)) AS lr FROM c, tot)
      |SELECT doc_id, count(*) AS n_tokens, round(avg(lr), 6) AS dsir
      |FROM b JOIN w USING (b)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Chunk-level duplication profile ([[Dedup.chunkDupStats]], the
    * MassiveText duplicate-line-fraction rule over fixed 16-token
    * windows): fraction of each doc's chunks that recur verbatim in
    * other documents. Chunks shuffle once on their 128-bit md5 key —
    * the text never travels. */
  def q157DupChunks(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.chunkDupStats(
        t(s, dir, "documents"), "doc_id", "text", size = 16)
      .orderBy("doc_id")

  val q157Sql: String =
    """WITH t AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
      |  FROM documents),
      |st AS (SELECT doc_id, ws,
      |  range(1, greatest(1, len(ws)) + 1, 16) AS starts FROM t),
      |ch AS (SELECT doc_id, md5(unnest(list_transform(starts,
      |    s -> array_to_string(list_slice(ws, s, s + 15), ' ')))) AS ck
      |  FROM st),
      |df AS (SELECT ck, count(DISTINCT doc_id) AS df FROM ch GROUP BY ck)
      |SELECT doc_id, count(*) AS n_chunks,
      |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
      |  round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) / count(*), 6) AS dup_frac
      |FROM ch JOIN df USING (ck)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Semantic dedup, SemDeDup shape ([[Dedup.semanticDupPairs]]):
    * embeddings assign to the nearest of 8 deterministic seed
    * exemplars (lowest md5(id) — the portable pseudo-random draw),
    * then near-dup pairs are searched ONLY within a cluster. The
    * corpus is doubled with offset ids (the q25 plant) so true
    * cross-copy pairs exist; the oracle replays the same seed draw,
    * assignment argmax, and intra-cluster pair scan in SQL. */
  def q158SemanticDup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    val doubled = e.unionByName(
      e.withColumn("vec_id", col("vec_id") + lit(100000L)))
    graft.dedup.Dedup.semanticDupPairs(doubled, "vec_id", "embedding",
        k = 8, threshold = 0.999)
      .orderBy("id_a", "id_b")
  }

  val q158Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings),
      |seeds AS (SELECT vec_id AS sid, ve AS sv FROM v
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
      |scored AS (SELECT v.vec_id, s.sid,
      |  list_dot_product(v.ve, s.sv) /
      |    (sqrt(list_dot_product(v.ve, v.ve)) * sqrt(list_dot_product(s.sv, s.sv))) AS c,
      |  row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |    list_dot_product(v.ve, s.sv) /
      |      (sqrt(list_dot_product(v.ve, v.ve)) * sqrt(list_dot_product(s.sv, s.sv))) DESC,
      |    s.sid) AS rn
      |  FROM v, seeds s),
      |asg AS (SELECT vec_id, sid AS cluster FROM scored WHERE rn = 1),
      |m AS (SELECT a.cluster, a.vec_id, v.ve FROM asg a JOIN v USING (vec_id)),
      |p AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_dot_product(a.ve, b.ve) /
      |    (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve))), 6) AS cosine
      |  FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
      |SELECT cluster, id_a, id_b, cosine FROM p
      |WHERE cosine >= 0.999 ORDER BY id_a, id_b""".stripMargin

  /** Deterministic export sharding ([[graft.operators.Shards]]): the
    * shard-balance profile of an 8-shard training export — shard id
    * and intra-shard order are pure functions of md5(doc_id), so the
    * written shards are byte-stable across reruns and engines. */
  def q159Shards(s: SparkSession, dir: String): DataFrame =
    graft.operators.Shards.profile(t(s, dir, "documents"), "doc_id", 8)
      .orderBy("shard")

  val q159Sql: String =
    """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |s AS (SELECT doc_id, h,
      |  ((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
      |   + instr('0123456789abcdef', substr(h, 2, 1)) - 1) % 8 AS shard FROM h)
      |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n,
      |  min(h) AS h_min, max(h) AS h_max
      |FROM s GROUP BY shard ORDER BY shard""".stripMargin

  /** Deterministic relational k-means ([[graft.ml.KMeansRel]]): two
    * Lloyd rounds from md5-seeded exemplars, every step pinned to an
    * engine-portable form — expanded-dot argmin, DECIMAL-exact means
    * on a 9-decimal grid. The oracle replays BOTH rounds (init →
    * assign → mean → assign → mean → final assign) bit-for-bit in SQL;
    * output is the final assignment with full squared distance. */
  def q160Kmeans(s: SparkSession, dir: String): DataFrame =
    graft.ml.KMeansRel.fitAssign(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iters = 2)
      .orderBy("vec_id")

  val q160Sql: String = {
    // One Lloyd round in SQL, parameterized by the centroid CTE names:
    // assign against `cp`, emit means `mp`, rebuilt+coalesced `cn`.
    def round(cp: String, ap: String, mp: String, cn: String): String =
      s"""$ap AS (SELECT vec_id, c AS cluster FROM (
         |  SELECT v.vec_id, $cp.c, row_number() OVER (PARTITION BY v.vec_id
         |    ORDER BY list_dot_product($cp.cv, $cp.cv)
         |      - 2 * list_dot_product(v.ve, $cp.cv), $cp.c) AS rn
         |  FROM v, $cp) WHERE rn = 1),
         |$mp AS (SELECT cluster, pos,
         |  round(CAST(sum(CAST(e AS DECIMAL(38, 12))) AS DOUBLE) / count(*), 9) AS m
         |  FROM (SELECT $ap.cluster, unnest(v.ve) AS e,
         |        unnest(range(len(v.ve))) AS pos FROM $ap JOIN v USING (vec_id))
         |  GROUP BY 1, 2),
         |$cn AS (SELECT p.c, coalesce(n.cv, p.cv) AS cv FROM $cp p LEFT JOIN
         |  (SELECT cluster AS c, list(m ORDER BY pos) AS cv FROM $mp GROUP BY 1) n
         |  USING (c))""".stripMargin
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
       |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       |c0 AS (SELECT CAST(rn - 1 AS BIGINT) AS c, ve AS cv FROM (
       |  SELECT vec_id, ve, row_number() OVER (
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM v)
       |  WHERE rn <= 8),
       |${round("c0", "a0", "m0", "c1")},
       |${round("c1", "a1", "m1", "c2")}
       |SELECT vec_id, cluster, round(list_dot_product(ve, ve)
       |  - 2 * list_dot_product(ve, cv) + list_dot_product(cv, cv), 6) AS d2
       |FROM (SELECT v.vec_id, c2.c AS cluster, v.ve, c2.cv,
       |  row_number() OVER (PARTITION BY v.vec_id
       |    ORDER BY list_dot_product(c2.cv, c2.cv)
       |      - 2 * list_dot_product(v.ve, c2.cv), c2.c) AS rn FROM v, c2)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  /** Hard-negative mining ([[graft.sim.Similarity.hardNegatives]]):
    * per anchor, the 5 most-cosine-similar vectors with a DIFFERENT
    * label, candidates bounded to the anchor's seed-exemplar cluster
    * (the SemDeDup cell trick — out-of-neighborhood negatives are
    * easy, not hard). Per-anchor top-k on the bounded heap aggregate;
    * the oracle replays seed draw, argmax assignment, intra-cluster
    * label-mismatch ranking in SQL. */
  def q161HardNegatives(s: SparkSession, dir: String): DataFrame =
    graft.sim.Similarity.hardNegatives(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label",
        nClusters = 4, k = 5)
      .orderBy("vec_id", "rn")

  val q161Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve, label
      |  FROM embeddings),
      |seeds AS (SELECT vec_id AS sid, ve AS sv FROM v
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4),
      |scored AS (SELECT v.vec_id, s.sid,
      |  row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |    list_dot_product(v.ve, s.sv) /
      |      (sqrt(list_dot_product(v.ve, v.ve)) * sqrt(list_dot_product(s.sv, s.sv))) DESC,
      |    s.sid) AS rn
      |  FROM v, seeds s),
      |asg AS (SELECT vec_id, sid AS cluster FROM scored WHERE rn = 1),
      |m AS (SELECT a.cluster, v.vec_id, v.ve, v.label
      |  FROM asg a JOIN v USING (vec_id)),
      |cand AS (SELECT a.vec_id, b.vec_id AS neg_id,
      |  list_dot_product(a.ve, b.ve) /
      |    (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve))) AS c
      |  FROM m a JOIN m b ON a.cluster = b.cluster AND a.label <> b.label),
      |r AS (SELECT vec_id, neg_id, round(c, 6) AS cosine,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, neg_id) AS rn
      |  FROM cand WHERE c IS NOT NULL)
      |SELECT vec_id, neg_id, cosine, CAST(rn AS BIGINT) AS rn
      |FROM r WHERE rn <= 5 ORDER BY vec_id, rn""".stripMargin

  /** Vocabulary coverage / OOV profile
    * ([[graft.text.TextOps.vocabCoverage]]): top-64 corpus vocabulary
    * (TakeOrdered, broadcast back), per-document fraction of token
    * occurrences outside it — the tokenizer-fit pre-check. */
  def q162VocabCoverage(s: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.vocabCoverage(
        t(s, dir, "documents"), "doc_id", "text", vocabSize = 64)
      .orderBy("doc_id")

  val q162Sql: String =
    """WITH toks AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |vocab AS (SELECT term FROM (
      |  SELECT term, count(*) AS cnt FROM toks GROUP BY 1
      |  ORDER BY cnt DESC, term LIMIT 64) q)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS oov_tokens,
      |  round(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) / count(*), 6)
      |    AS oov_rate
      |FROM toks LEFT JOIN vocab v ON toks.term = v.term
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Winnowing fingerprints ([[graft.text.TextOps.winnow]], the MOSS
    * algorithm): min-hash per sliding 4-window of 4-token shingle
    * md5s, ties to the rightmost position via the `md5 ∥ inverted
    * zero-padded pos` string-min trick — one portable comparison
    * selects (min hash, rightmost pos). Any shared run of ≥ 7 tokens
    * between documents is guaranteed to share a fingerprint. */
  def q163Winnow(s: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.winnow(
        t(s, dir, "documents"), "doc_id", "text", k = 4, w = 4)
      .orderBy("doc_id", "pos")

  val q163Sql: String =
    """WITH t AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
      |  FROM documents),
      |st AS (SELECT doc_id, ws,
      |  range(1, greatest(len(ws) - 3, 0) + 1) AS idx FROM t),
      |sh AS (SELECT doc_id, unnest(idx) - 1 AS pos,
      |  md5(unnest(list_transform(idx,
      |    i -> array_to_string(list_slice(ws, i, i + 3), ' ')))) AS h
      |  FROM st),
      |keyed AS (SELECT doc_id, pos,
      |  h || lpad(CAST(9999999 - pos AS VARCHAR), 7, '0') AS key FROM sh),
      |win AS (SELECT doc_id, pos, min(key) OVER (PARTITION BY doc_id
      |  ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mk
      |  FROM keyed)
      |SELECT DISTINCT doc_id,
      |  CAST(9999999 - CAST(substr(mk, 33, 7) AS BIGINT) AS BIGINT) AS pos,
      |  substr(mk, 1, 32) AS fp
      |FROM win WHERE pos >= 3 ORDER BY 1, 2""".stripMargin

  /** Measured ANN recall ([[graft.ml.Metrics.recallAtK]]): the
    * IVF probe at nprobe=2 (deliberately lossy — half the q44 probe
    * budget) scored against the exact top-20, as one (k, hits,
    * recall) row. The eval op that turns "approximate" from a hope
    * into a number; the oracle replays BOTH retrieval pipelines and
    * the set intersection. */
  def q164AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val model = Similarity.ivfFitSample(e, "vec_id", "embedding", nlist = 8)
    val probe = e.filter(col("vec_id") === 0).limit(1)
    val got = Similarity.ivfTopK(e, "vec_id", "embedding", probe,
      k = 20, model, nprobe = 2)
    val truth = Similarity.bruteForceTopK(e, "vec_id", "embedding", probe,
      k = 20)
    graft.ml.Metrics.recallAtK(got, truth, "vec_id")
  }

  val q164Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
      |a AS (SELECT v.vec_id, v.e, c.cid,
      |        row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |          list_dot_product(c.ce, c.ce) - 2 * list_dot_product(v.e, c.ce), c.cid) AS rn
      |      FROM v CROSS JOIN c),
      |cells AS (SELECT vec_id, e, cid AS cell FROM a WHERE rn = 1),
      |p AS (SELECT e AS pe FROM v WHERE vec_id = 0),
      |pc AS (SELECT c.cid, row_number() OVER (ORDER BY
      |         list_dot_product(c.ce, c.ce) - 2 * list_dot_product(p.pe, c.ce), c.cid) AS rn
      |       FROM c CROSS JOIN p),
      |probed AS (SELECT cid FROM pc WHERE rn <= 2),
      |ivf AS (SELECT cells.vec_id, round(list_dot_product(cells.e, p.pe) /
      |    (sqrt(list_dot_product(cells.e, cells.e)) * sqrt(list_dot_product(p.pe, p.pe))), 6) AS cosine
      |  FROM cells JOIN probed ON cells.cell = probed.cid CROSS JOIN p
      |  ORDER BY cosine DESC, vec_id LIMIT 20),
      |ex AS (SELECT vec_id, round(list_dot_product(v.e, p.pe) /
      |    (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(p.pe, p.pe))), 6) AS cosine
      |  FROM v, p ORDER BY cosine DESC, vec_id LIMIT 20),
      |tr AS (SELECT count(*) AS k FROM (SELECT DISTINCT vec_id FROM ex)),
      |h AS (SELECT count(*) AS hits FROM
      |  (SELECT DISTINCT vec_id FROM ivf) i
      |  JOIN (SELECT DISTINCT vec_id FROM ex) x USING (vec_id))
      |SELECT k, hits, CASE WHEN k = 0 THEN NULL
      |  ELSE round(CAST(hits AS DOUBLE) / k, 6) END AS recall
      |FROM tr, h""".stripMargin

  /** Corpus health report: the one-row dataset card a curation run
    * starts and ends with — volume (docs/tokens), length shape
    * (mean/median tokens), source spread, exact-duplicate text
    * fraction, and language-distribution entropy (q116's
    * grid-rounded decimal-sum idiom). Three bounded aggregates
    * (1-row, 1-row, langs-sized) scalar-joined — the corpus is
    * scanned twice (token pass + distinct-text pass), never
    * shuffled whole. */
  def q165CorpusHealth(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val perDoc = d.select(
      graft.text.TextOps.nTokens(col("text")).as("nt"),
      col("lang"), col("source"))
    val base = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("nt")).as("n_tokens"),
      round(avg(col("nt")), 6).as("mean_tokens"),
      round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY nt)"), 6)
        .as("p50_tokens"),
      countDistinct(col("source")).as("n_sources"))
    val dup = d.agg(round(lit(1.0)
      - countDistinct(col("text")) / count(lit(1)).cast("double"), 6)
      .as("dup_text_frac"))
    val langs = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val ent = langs.crossJoin(broadcast(langs.agg(sum(col("n")).as("t"))))
      .select(round((col("n") / col("t")) * (-log(col("n") / col("t"))), 9)
        .as("term"))
      .agg(round(sum(col("term").cast("decimal(28,9)")).cast("double"), 6)
        .as("lang_entropy_nats"))
    base.crossJoin(dup).crossJoin(ent)
  }

  val q165Sql: String =
    """WITH pd AS (SELECT doc_id,
      |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS nt,
      |  lang, source FROM documents),
      |base AS (SELECT count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
      |  round(avg(nt), 6) AS mean_tokens,
      |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY nt), 6) AS p50_tokens,
      |  count(DISTINCT source) AS n_sources FROM pd),
      |dup AS (SELECT round(1.0 - count(DISTINCT text) / CAST(count(*) AS DOUBLE), 6)
      |  AS dup_text_frac FROM documents),
      |l AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY 1),
      |tt AS (SELECT sum(n) AS t FROM l),
      |ent AS (SELECT round(CAST(sum(CAST(round((n / t) * (-ln(n / t)), 9)
      |    AS DECIMAL(28, 9))) AS DOUBLE), 6) AS lang_entropy_nats FROM l, tt)
      |SELECT * FROM base, dup, ent""".stripMargin

  /** Gopher structural quality gate
    * ([[graft.text.TextOps.gopherRules]]): word-count bounds,
    * mean-word-length band, symbol/bullet/ellipsis ratios,
    * alphabetic-word fraction, stop-word containment — all as one
    * zero-shuffle codegen projection, with the conjunction `keep`.
    * At 100 TB this runs inside the scan stage so every downstream
    * operator only sees survivors. */
  def q166GopherRules(s: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.gopherRules(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val q166Sql: String =
    """WITH d AS (SELECT doc_id, text,
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws,
      |  list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS wsl,
      |  list_filter(regexp_split_to_array(text, '\n'), l -> trim(l) <> '') AS ls
      |  FROM documents),
      |m AS (SELECT doc_id, len(ws) AS n_words,
      |  CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS DOUBLE)
      |    / greatest(len(ws), 1) AS mean_word_len,
      |  CAST(len(regexp_extract_all(text, '#|\.{3}|…')) AS DOUBLE)
      |    / greatest(len(ws), 1) AS symbol_ratio,
      |  CAST(len(list_filter(ls, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE)
      |    / greatest(len(ls), 1) AS bullet_frac,
      |  CAST(len(list_filter(ls, l -> regexp_matches(rtrim(l), '(\.{3}|…)$'))) AS DOUBLE)
      |    / greatest(len(ls), 1) AS ellipsis_frac,
      |  CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
      |    / greatest(len(ws), 1) AS alpha_word_frac,
      |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
      |    s -> list_contains(wsl, s))) AS BIGINT) AS stop_hits
      |  FROM d)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |  round(mean_word_len, 6) AS mean_word_len,
      |  round(symbol_ratio, 6) AS symbol_ratio,
      |  round(bullet_frac, 6) AS bullet_frac,
      |  round(ellipsis_frac, 6) AS ellipsis_frac,
      |  round(alpha_word_frac, 6) AS alpha_word_frac, stop_hits,
      |  (n_words >= 50 AND n_words <= 100000
      |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
      |   AND symbol_ratio < 0.1 AND bullet_frac <= 0.1
      |   AND ellipsis_frac <= 0.3 AND alpha_word_frac >= 0.8
      |   AND stop_hits >= 2) AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  /** Batch k-NN join ([[graft.sim.Similarity.knnJoin]]): every 50th
    * vector as a query, its top-3 cosine neighbors from the full
    * corpus, searched only inside the query's seed cell — thousands
    * of probes amortized into ONE equi-join (vs one scan per probe
    * with [[graft.sim.Similarity.annTopK]]). Self-match lands at
    * rank 1 by construction. */
  def q167KnnJoin(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.sim.Similarity.knnJoin(
        e.filter(col("vec_id") % 50 === 0), "vec_id",
        e, "vec_id", "embedding", nClusters = 4, k = 3)
      .orderBy("vec_id", "rn")
  }

  val q167Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
      |seeds AS (SELECT vec_id AS sid, ve AS sv FROM v
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4),
      |ca AS (SELECT vec_id, sid AS cluster FROM (
      |  SELECT v.vec_id, s.sid, row_number() OVER (PARTITION BY v.vec_id
      |    ORDER BY list_dot_product(v.ve, s.sv) /
      |      (sqrt(list_dot_product(v.ve, v.ve)) * sqrt(list_dot_product(s.sv, s.sv))) DESC,
      |    s.sid) AS rn FROM v, seeds s) WHERE rn = 1),
      |q AS (SELECT vec_id, ve FROM v WHERE vec_id % 50 = 0),
      |qa AS (SELECT q.vec_id, ca.cluster, q.ve FROM q JOIN ca USING (vec_id)),
      |m AS (SELECT ca.cluster, v.vec_id AS nn_id, v.ve FROM ca JOIN v USING (vec_id)),
      |cand AS (SELECT qa.vec_id, m.nn_id,
      |  list_dot_product(qa.ve, m.ve) /
      |    (sqrt(list_dot_product(qa.ve, qa.ve)) * sqrt(list_dot_product(m.ve, m.ve))) AS c
      |  FROM qa JOIN m ON qa.cluster = m.cluster),
      |r AS (SELECT vec_id, nn_id, round(c, 6) AS cosine,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, nn_id) AS rn
      |  FROM cand WHERE c IS NOT NULL)
      |SELECT vec_id, nn_id, cosine, CAST(rn AS BIGINT) AS rn
      |FROM r WHERE rn <= 3 ORDER BY vec_id, rn""".stripMargin

  /** k-anonymity / l-diversity release audit
    * ([[graft.privacy.Anonymity.audit]]): customers grouped by the
    * quasi-identifier pair (nation, market segment), reported as the
    * one-row re-identification risk card — minimum equivalence-class
    * size, rows living in sub-k classes, and the worst
    * sensitive-attribute (acctbal) diversity. One QI shuffle plus a
    * one-row reduce; nothing driver-side. */
  def q168Kanonymity(s: SparkSession, dir: String): DataFrame =
    graft.privacy.Anonymity.audit(t(s, dir, "customer"),
      Seq("c_nationkey", "c_mktsegment"), "c_acctbal", k = 10)

  val q168Sql: String =
    """WITH ec AS (SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
      |  count(DISTINCT c_acctbal) AS l_diversity
      |  FROM customer GROUP BY 1, 2)
      |SELECT CAST(sum(class_size) AS BIGINT) AS n_rows,
      |  count(*) AS n_classes,
      |  CAST(min(class_size) AS BIGINT) AS k_anonymity,
      |  CAST(sum(CASE WHEN class_size < 10 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS classes_below_k,
      |  CAST(sum(CASE WHEN class_size < 10 THEN class_size ELSE 0 END)
      |    AS BIGINT) AS rows_at_risk,
      |  round(sum(CASE WHEN class_size < 10 THEN class_size ELSE 0 END)
      |    / CAST(sum(class_size) AS DOUBLE), 6) AS risk_frac,
      |  CAST(min(l_diversity) AS BIGINT) AS min_l_diversity
      |FROM ec""".stripMargin

  /** Shuffle-key skew report ([[graft.etl.SkewProfile.keyStats]]) for
    * the event log's user key: the measured severity that decides
    * between a plain shuffle, AQE skew splitting, and
    * [[graft.operators.SaltedJoin]]. Group-size percentiles computed
    * over the (already reduced) key relation. */
  def q169SkewProfile(s: SparkSession, dir: String): DataFrame =
    graft.etl.SkewProfile.keyStats(t(s, dir, "events"), "user_id")

  val q169Sql: String =
    """WITH g AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1)
      |SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
      |  CAST(max(cnt) AS BIGINT) AS max_cnt,
      |  round(avg(cnt), 6) AS avg_cnt,
      |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY cnt), 6) AS p50_cnt,
      |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY cnt), 6) AS p90_cnt,
      |  round(percentile_cont(0.99) WITHIN GROUP (ORDER BY cnt), 6) AS p99_cnt,
      |  round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 6) AS top1_share,
      |  round(max(cnt) / avg(cnt), 6) AS skew
      |FROM g""".stripMargin

  /** Inclusion-dependency discovery ([[graft.etl.Discovery.discover]])
    * over four candidate FK pairs: three true foreign keys
    * (containment 1.0) and one deliberate mismatch
    * (nationkey→regionkey) quantifying how non-keys score. Each pair
    * is two distinct-projections + a LEFT ANTI probe. */
  def q170FkDiscovery(s: SparkSession, dir: String): DataFrame =
    graft.etl.Discovery.discover(Seq(
      ("customer.c_nationkey->region.r_regionkey",
        t(s, dir, "customer"), "c_nationkey",
        t(s, dir, "region"), "r_regionkey"),
      ("lineitem.l_orderkey->orders.o_orderkey",
        t(s, dir, "lineitem"), "l_orderkey",
        t(s, dir, "orders"), "o_orderkey"),
      ("lineitem.l_partkey->part.p_partkey",
        t(s, dir, "lineitem"), "l_partkey",
        t(s, dir, "part"), "p_partkey"),
      ("orders.o_custkey->customer.c_custkey",
        t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer"), "c_custkey")))

  val q170Sql: String =
    """WITH pairs AS (
      |  SELECT 'customer.c_nationkey->region.r_regionkey' AS pair,
      |    (SELECT count(DISTINCT c_nationkey) FROM customer) AS n_child_distinct,
      |    (SELECT count(*) FROM (SELECT DISTINCT c_nationkey AS v FROM customer
      |       WHERE c_nationkey IS NOT NULL) c
      |     WHERE NOT EXISTS (SELECT 1 FROM region r
      |       WHERE r.r_regionkey = c.v)) AS n_missing,
      |    (SELECT count(*) FROM customer WHERE c_nationkey IS NULL) AS n_null_child
      |  UNION ALL
      |  SELECT 'lineitem.l_orderkey->orders.o_orderkey',
      |    (SELECT count(DISTINCT l_orderkey) FROM lineitem),
      |    (SELECT count(*) FROM (SELECT DISTINCT l_orderkey AS v FROM lineitem
      |       WHERE l_orderkey IS NOT NULL) c
      |     WHERE NOT EXISTS (SELECT 1 FROM orders o
      |       WHERE o.o_orderkey = c.v)),
      |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)
      |  UNION ALL
      |  SELECT 'lineitem.l_partkey->part.p_partkey',
      |    (SELECT count(DISTINCT l_partkey) FROM lineitem),
      |    (SELECT count(*) FROM (SELECT DISTINCT l_partkey AS v FROM lineitem
      |       WHERE l_partkey IS NOT NULL) c
      |     WHERE NOT EXISTS (SELECT 1 FROM part p
      |       WHERE p.p_partkey = c.v)),
      |    (SELECT count(*) FROM lineitem WHERE l_partkey IS NULL)
      |  UNION ALL
      |  SELECT 'orders.o_custkey->customer.c_custkey',
      |    (SELECT count(DISTINCT o_custkey) FROM orders),
      |    (SELECT count(*) FROM (SELECT DISTINCT o_custkey AS v FROM orders
      |       WHERE o_custkey IS NOT NULL) c
      |     WHERE NOT EXISTS (SELECT 1 FROM customer cu
      |       WHERE cu.c_custkey = c.v)),
      |    (SELECT count(*) FROM orders WHERE o_custkey IS NULL))
      |SELECT pair, n_child_distinct, n_missing,
      |  round(CASE WHEN n_child_distinct = 0 THEN NULL
      |    ELSE 1.0 - n_missing / CAST(n_child_distinct AS DOUBLE) END, 6)
      |    AS containment,
      |  n_null_child
      |FROM pairs ORDER BY pair""".stripMargin

  /** Population Stability Index ([[graft.ml.Metrics.psi]]) of the
    * event `value` distribution, first half of January vs second —
    * the model-monitoring drift number, computed over fixed bin edges
    * (run-to-run comparable) with Laplace-smoothed shares. One
    * bins-sized relation per side; q116's round-9 decimal-sum
    * determinism recipe. */
  def q171Psi(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val cut = lit("2024-01-16").cast("timestamp")
    graft.ml.Metrics.psi(
      e.filter(col("ts") < cut), e.filter(col("ts") >= cut),
      "value", bins = 10, lo = 0.0, hi = 500.0)
  }

  val q171Sql: String =
    """WITH r AS (SELECT least(greatest(CAST(floor((value - 0.0) / 500.0 * 10)
      |    AS BIGINT), 0), 9) AS bin
      |  FROM events WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL),
      |c AS (SELECT least(greatest(CAST(floor((value - 0.0) / 500.0 * 10)
      |    AS BIGINT), 0), 9) AS bin
      |  FROM events WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL),
      |rb AS (SELECT bin, count(*) AS ref_cnt FROM r GROUP BY 1),
      |cb AS (SELECT bin, count(*) AS cur_cnt FROM c GROUP BY 1),
      |sp AS (SELECT range AS bin FROM range(0, 10)),
      |j AS (SELECT sp.bin, coalesce(ref_cnt, 0) AS ref_cnt,
      |  coalesce(cur_cnt, 0) AS cur_cnt
      |  FROM sp LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin)),
      |t AS (SELECT ref_cnt, cur_cnt,
      |  (ref_cnt + 0.5) / ((SELECT sum(ref_cnt) FROM j) + 0.5 * 10) AS p,
      |  (cur_cnt + 0.5) / ((SELECT sum(cur_cnt) FROM j) + 0.5 * 10) AS q
      |  FROM j),
      |tm AS (SELECT ref_cnt, cur_cnt,
      |  round((p - q) * ln(p / q), 9) AS term FROM t)
      |SELECT CAST(sum(ref_cnt) AS BIGINT) AS n_ref,
      |  CAST(sum(cur_cnt) AS BIGINT) AS n_cur,
      |  round(CAST(sum(CAST(term AS DECIMAL(28, 9))) AS DOUBLE), 6) AS psi
      |FROM tm""".stripMargin

  /** Smoothed target encoding ([[graft.features.Features.targetEncode]])
    * of order priority against the "order is finalized" target — the
    * mapping table (category, n, prior, shrunk estimate) a training
    * pipeline fits on train and joins everywhere else. Exact decimal
    * target sums; one domain-sized aggregate. */
  def q172TargetEncode(s: SparkSession, dir: String): DataFrame =
    graft.features.Features.targetEncode(
      t(s, dir, "orders").select(col("o_orderpriority"),
        (col("o_orderstatus") === "F").cast("int").as("y")),
      "o_orderpriority", "y", smoothing = 20.0)
      .orderBy("o_orderpriority")

  val q172Sql: String =
    """WITH b AS (SELECT o_orderpriority,
      |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders),
      |pc AS (SELECT o_orderpriority, count(*) AS n,
      |  sum(CAST(round(CAST(y AS DOUBLE), 6) AS DECIMAL(30, 6))) AS sy
      |  FROM b WHERE y IS NOT NULL GROUP BY 1),
      |pr AS (SELECT CAST(sum(sy) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
      |  AS prior FROM pc)
      |SELECT o_orderpriority, n, round(prior, 6) AS prior,
      |  round((CAST(sy AS DOUBLE) + 20.0 * prior)
      |    / (CAST(n AS DOUBLE) + 20.0), 6) AS enc
      |FROM pc, pr ORDER BY o_orderpriority""".stripMargin

  /** q41's as-of join through the NATIVE plan node
    * ([[graft.plans.AsOfJoinPlan]] → `AsOfJoinExec`, the
    * [[graft.plans.SkylinePlan]] extension ladder): co-clustering and
    * per-partition sort declared as physical requirements, then ONE
    * forward merge scan — no union, no window state machine. Same
    * oracle as q41 (DuckDB's native ASOF LEFT JOIN), so the custom
    * operator is third-engine-checked, and benched against the
    * window formulation (q41 vs q173). */
  def q173AsofNative(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val errors = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("err_id"),
        max_by(col("value"), col("event_id")).as("err_value"))
    graft.operators.AsOfJoin
      .asOfNative(clicks, errors, "user_id", "ts",
        Seq("err_id", "err_value"), "err_id")
      .select("event_id", "user_id", "err_id", "err_value")
      .orderBy("event_id")
  }

  val q173Sql: String = q41Sql

  /** Hard-negative mining through the TWO-LEVEL coarse assignment
    * ([[graft.sim.Similarity.assignToSeedsCoarse]]) — the O(n·√c)
    * production path once cell count scales with the corpus (exact
    * assignment's n·c cosines measured 210 s vs 20 s at the 100×
    * probe). The oracle replays both quantizer levels in SQL: the
    * md5-draw of 8 seeds, the md5-draw of 3 super-seeds FROM those
    * seeds, seed→super and vector→super argmax assignment, then
    * best-seed-within-cell argmax — every stage the same
    * deterministic (cosine DESC, id ASC) tiebreak the exact oracles
    * use. */
  def q174HardNegativesCoarse(s: SparkSession, dir: String): DataFrame =
    graft.sim.Similarity.hardNegatives(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", nClusters = 8, k = 5, nCoarse = 3)
      .orderBy("vec_id", "rn")

  val q174Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve, label
      |  FROM embeddings),
      |seeds AS (SELECT vec_id AS sid, ve AS sv FROM v
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
      |super AS (SELECT sid AS cid, sv AS cv FROM seeds
      |  ORDER BY md5(CAST(sid AS VARCHAR)), sid LIMIT 3),
      |ssc AS (SELECT sid, sv, cid AS cell FROM (
      |  SELECT s.sid, s.sv, p.cid,
      |    row_number() OVER (PARTITION BY s.sid ORDER BY
      |      list_dot_product(s.sv, p.cv) /
      |        (sqrt(list_dot_product(s.sv, s.sv)) * sqrt(list_dot_product(p.cv, p.cv))) DESC,
      |      p.cid) AS rn
      |  FROM seeds s, super p) q WHERE rn = 1),
      |vsc AS (SELECT vec_id, cell FROM (
      |  SELECT v.vec_id, p.cid AS cell,
      |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |      list_dot_product(v.ve, p.cv) /
      |        (sqrt(list_dot_product(v.ve, v.ve)) * sqrt(list_dot_product(p.cv, p.cv))) DESC,
      |      p.cid) AS rn
      |  FROM v, super p) q WHERE rn = 1),
      |asg AS (SELECT vec_id, sid AS cluster FROM (
      |  SELECT v.vec_id, s.sid,
      |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |      list_dot_product(v.ve, s.sv) /
      |        (sqrt(list_dot_product(v.ve, v.ve)) * sqrt(list_dot_product(s.sv, s.sv))) DESC,
      |      s.sid) AS rn
      |  FROM v JOIN vsc USING (vec_id) JOIN ssc s ON s.cell = vsc.cell) q
      |  WHERE rn = 1),
      |m AS (SELECT a.cluster, v.vec_id, v.ve, v.label
      |  FROM asg a JOIN v USING (vec_id)),
      |cand AS (SELECT a.vec_id, b.vec_id AS neg_id,
      |  list_dot_product(a.ve, b.ve) /
      |    (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve))) AS c
      |  FROM m a JOIN m b ON a.cluster = b.cluster AND a.label <> b.label),
      |r AS (SELECT vec_id, neg_id, round(c, 6) AS cosine,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, neg_id) AS rn
      |  FROM cand WHERE c IS NOT NULL)
      |SELECT vec_id, neg_id, cosine, CAST(rn AS BIGINT) AS rn
      |FROM r WHERE rn <= 5 ORDER BY vec_id, rn""".stripMargin

  /** The shared merges-table SQL (top-20 one-shot BPE merges, ranked)
    * for the q175/q176 oracles — the q66 pair count with a rank. */
  private val bpeMergesCteSql: String =
    """w0 AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |         x -> x <> '')) AS w FROM documents),
      |wc AS (SELECT w, count(*) AS cnt FROM w0 GROUP BY w),
      |pc AS (SELECT unnest(list_transform(range(1, length(w)),
      |         i -> substr(w, i, 2))) AS pair, cnt
      |       FROM wc WHERE length(w) >= 2),
      |pcc AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS cnt FROM pc GROUP BY pair),
      |mg AS (SELECT substr(pair, 1, 1) AS l, substr(pair, 2, 1) AS r,
      |         CAST(row_number() OVER (ORDER BY cnt DESC, pair) - 1 AS INT) AS rank
      |       FROM (SELECT * FROM pcc ORDER BY cnt DESC, pair LIMIT 20))"""
      .stripMargin

  /** The BPE-apply recursive CTE over a vocabulary relation `v(w)`:
    * split to codepoint symbols, then one merge per step — the
    * LEFTMOST occurrence of the lowest-ranked adjacent pair — until no
    * pair is in `mg`. Final state per word = the minimum-length row
    * (each step shrinks the list by one, so the chain is linear).
    * Exactly [[graft.text.TextOps.bpeApply]]'s contract. */
  private val bpeEncCteSql: String =
    """init AS (SELECT w, list_transform(range(1, length(w) + 1),
      |           i -> substr(w, i, 1)) AS syms FROM v),
      |enc(w, syms) AS (
      |  SELECT w, syms FROM init
      |  UNION ALL
      |  SELECT w, syms[1:pos-1] || [syms[pos] || syms[pos+1]] || syms[pos+2:]
      |  FROM (
      |    SELECT w, syms, min_by(pos, rank * 1000000 + pos) AS pos
      |    FROM (
      |      SELECT e.w, e.syms, t.i AS pos, mg.rank
      |      FROM enc e, UNNEST(range(1, len(e.syms))) AS t(i)
      |      JOIN mg ON mg.l = e.syms[t.i] AND mg.r = e.syms[t.i + 1]
      |    ) GROUP BY w, syms
      |  )
      |),
      |fin AS (SELECT w, min_by(syms, len(syms)) AS syms FROM enc GROUP BY w)"""
      .stripMargin

  /** BPE tokenizer APPLY ([[graft.text.TextOps.bpeEncodeWords]]):
    * encode the distinct vocabulary of the first documents against a
    * one-shot top-20 merges table ([[graft.text.TextOps.bpeMerges]]).
    * The oracle replays the ENTIRE merge loop in a recursive CTE —
    * codepoint split, per-step leftmost-lowest-rank merge, fixpoint —
    * so the iterative UDF inner loop is value-checked end-to-end, not
    * just row-counted. Corpus-scale discipline: merges are trained on
    * ALL documents, the encode runs on a distinct-word relation. */
  def q175BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = graft.text.TextOps.bpeMerges(docs, "text", 20)
    val vocab = docs.filter(col("doc_id") < 40)
      .select(explode(graft.text.TextOps.tokens(lower(col("text")))).as("w"))
      .distinct()
    graft.text.TextOps.bpeEncodeWords(vocab, "w", merges)
      .select(col("w").as("word"),
        array_join(col("bpe_tokens"), " ").as("encoded"),
        size(col("bpe_tokens")).cast("long").as("n_tokens"))
      .orderBy("word")
  }

  val q175Sql: String =
    s"""WITH RECURSIVE $bpeMergesCteSql,
      |v AS (SELECT DISTINCT unnest(list_filter(
      |        regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS w
      |      FROM documents WHERE doc_id < 40),
      |$bpeEncCteSql
      |SELECT w AS word, array_to_string(syms, ' ') AS encoded,
      |  CAST(len(syms) AS BIGINT) AS n_tokens
      |FROM fin ORDER BY word""".stripMargin

  /** TOKEN-ACCURATE sequence packing — q63's greedy budget fill with
    * the whitespace count replaced by BPE token counts
    * ([[graft.text.TextOps.bpeTokenCounts]]): whitespace counts
    * misstate budgets for a real tokenizer (this corpus under the
    * 20-merge demo table runs 3.57 BPE tokens per word; a production
    * 30k-merges file lands near 1.3 for English prose), so
    * ws-budgeted packs systematically misfit a model's context.
    * Corpus → (doc, word) counts →
    * vocabulary-sized encode → weighted join-back, then the same
    * distributed two-phase prefix sum over doc order. The oracle
    * replays the merge loop over the FULL corpus vocabulary plus the
    * packing window. */
  def q176BpePack(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // r17 (guide §1.2: fewer full passes): merge training and token
    // counting each tokenized the corpus — two full explode+group
    // passes. The shared (doc, word) counts relation is computed once
    // and lazily local-checkpointed (materialized by the merges
    // collect, reused by the count join-back): one corpus tokenize
    // pass total. Values identical — merges' word counts are the
    // per-doc counts re-summed. localCheckpoint trade (see
    // Hierarchy.closureMove note): executor-local, unreplicated
    // blocks — acceptable here because the relation is
    // vocabulary-bounded per doc and the pipeline is a batch job a
    // retry simply re-runs.
    val wc = TextOps.docWordCounts(docs, "doc_id", "text")
      .localCheckpoint(false)
    val merges = TextOps.bpeMergesFromPairCounts(
      TextOps.bpePairCountsFromWordCounts(
        wc.groupBy(col("__w")).agg(sum(col("__cnt")).as("cnt"))
          .select(col("__w").as("w"), col("cnt"))), 20)
    val counts = TextOps
      .bpeTokenCountsFromWordCounts(wc, "doc_id", merges)
      .select(col("doc_id"), col("n_bpe_tokens"))
    graft.operators.PrefixSum
      .packBudget(counts, "doc_id", "n_bpe_tokens", budget = 2048L,
        bucketWidth = 100L)
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bpe_tokens").as("pack_tokens"))
      .orderBy("pack_id")
  }

  val q176Sql: String =
    s"""WITH RECURSIVE $bpeMergesCteSql,
      |v AS (SELECT DISTINCT w FROM w0),
      |$bpeEncCteSql,
      |dwc AS (SELECT doc_id, w, count(*) AS cnt FROM (
      |    SELECT doc_id, unnest(list_filter(
      |      regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS w
      |    FROM documents) GROUP BY doc_id, w),
      |d AS (SELECT doc_id, CAST(sum(cnt * len(syms)) AS BIGINT) AS n_bpe_tokens
      |      FROM dwc JOIN fin USING (w) GROUP BY doc_id),
      |c AS (SELECT doc_id, n_bpe_tokens,
      |  sum(n_bpe_tokens) OVER (ORDER BY doc_id) AS cum FROM d),
      |p AS (SELECT doc_id, n_bpe_tokens,
      |  CAST(floor((cum - n_bpe_tokens) / 2048.0) AS BIGINT) AS pack_id FROM c)
      |SELECT pack_id, count(*) AS n_docs,
      |  CAST(sum(n_bpe_tokens) AS BIGINT) AS pack_tokens
      |FROM p GROUP BY pack_id ORDER BY pack_id""".stripMargin

  /** THE END-TO-END CURATION PIPELINE — the artifact a training-data
    * user actually ships: one query chaining exact dedup → near-dup
    * clusters → quality gate → benchmark decontamination → budget
    * mixture → export shards (the q17 → q64 → q55 → q60 → q152 → q159
    * composition), ending in the 8-shard export profile. Every stage
    * is the library operator, every stage's scale shape is the one its
    * own query proved (hash-agg dedup, bounded pair space + CC,
    * zero-shuffle quality projection, broadcast-semi decontamination,
    * bucketed two-phase quota cut, md5 sharding), and the oracle
    * replays the ENTIRE chain — so a drift in any stage fails the one
    * pipeline hash. The quality gate is the q55 composite-score form
    * (the full Gopher conjunction is a 50-word floor this fixture's
    * short documents never pass — gates must fit the corpus).
    * Output: (shard, n_docs, chars) — the export manifest. */
  def q177CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // scratchAutoBytes = 0: force the parquet-scratch + pinned-stages
    // posture (bit-identical output — CurationSpec asserts both
    // storage paths equal). r16 profiling: the unpersisted default
    // recomputes the minhash/shingle signature relation once per
    // consumer branch (banding + both verify sides) and ran 9.1 s
    // here; pinned stages alone (a since-retired mode) were WORSE (the
    // block cache hands every branch whole rows, shingle arrays
    // included — 27 s); the scratch column-prunes each branch's read
    // and won the paired window at 0.74x (6.8 s, control 0.90x). Same
    // plan shape the module's own 1000x probe chose — the
    // fixture-scale gate was simply set too high for this chain's
    // 3-way signature fan-out.
    val accepted = graft.etl.Curation.curate(docs,
      idCol = "doc_id", textCol = "text",
      domainCol = "lang", costCol = "n_chars",
      threshold = 0.9, minQuality = 0.3,
      benchmark = docs.filter(col("doc_id") < 10), decontaminateN = 4,
      weights = q152Weights.toMap, budget = q152Budget,
      corpusPredicate = col("doc_id") >= 10,
      scratchAutoBytes = 0L)
    graft.etl.Curation.exportProfile(accepted, "doc_id", "n_chars", 8)
  }

  val q177Sql: String = {
    val ordered = q152Weights.sortBy(_._1)
    val wsum = ordered.map(_._2).sum
    val quotaRows = ordered.map { case (d, w) =>
      s"('$d', ${math.floor(q152Budget * w / wsum).toLong})"
    }.mkString(", ")
    val g4 = "ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]"
    s"""WITH RECURSIVE
      |k1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
      |d1 AS (SELECT d.doc_id, d.text, d.lang, d.n_chars
      |       FROM documents d JOIN k1 USING (doc_id)),
      |${dupClusterCteSqlFrom("d1")},
      |cl AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
      |d2 AS (SELECT * FROM d1 WHERE doc_id NOT IN
      |        (SELECT id FROM cl WHERE cluster <> id)),
      |d3 AS (SELECT * FROM d2 WHERE round($qualityExprSql, 6) >= 0.3),
      |tt AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |         x -> x <> '') AS ws FROM d3 WHERE doc_id >= 10),
      |tg AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 4
      |         THEN list_transform(range(1, len(ws) - 2), i -> $g4)
      |         ELSE [array_to_string(ws, ' ')] END) AS gram FROM tt),
      |bt AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |         x -> x <> '') AS ws FROM documents WHERE doc_id < 10),
      |bg AS (SELECT DISTINCT unnest(CASE WHEN len(ws) >= 4
      |         THEN list_transform(range(1, len(ws) - 2), i -> $g4)
      |         ELSE [array_to_string(ws, ' ')] END) AS gram FROM bt),
      |cont AS (SELECT DISTINCT doc_id FROM tg
      |         WHERE gram IN (SELECT gram FROM bg)),
      |d4 AS (SELECT * FROM d3 WHERE doc_id >= 10
      |        AND doc_id NOT IN (SELECT doc_id FROM cont)),
      |q(lang, quota) AS (VALUES $quotaRows),
      |r AS (SELECT doc_id, d.lang, n_chars, quota,
      |        coalesce(sum(n_chars) OVER (PARTITION BY d.lang
      |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |      FROM d4 d JOIN q ON d.lang = q.lang),
      |d5 AS (SELECT doc_id, n_chars FROM r WHERE cum < quota),
      |h AS (SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h FROM d5),
      |sh AS (SELECT doc_id, n_chars,
      |  ((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
      |   + instr('0123456789abcdef', substr(h, 2, 1)) - 1) % 8 AS shard FROM h)
      |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM sh GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** Perceptual dHash over media columns
    * ([[graft.multimodal.Multimodal.dHash64]]): each doc's "image" is
    * the deterministic fake media wrapping its md5 hex (32 ASCII
    * bytes = an 8×4 grayscale grid — ASCII so the oracle reads pixel
    * values with `ord(substr(...))`), decoded and dHashed in the
    * partition-local batch shape. The oracle recomputes all 64
    * gradient bits from the SAME nearest-neighbor grid arithmetic
    * (the bit expressions are GENERATED from one copy of the integer
    * resample math, so engine and oracle cannot drift), emitted
    * MSB-first as a 64-char bit string — integer packing would
    * overflow SQL BIGINT at bit 63. */
  def q178MediaDhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Multimodal
    val media = t(s, dir, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("hx"))
      .as[(Long, String)]
      .map { case (id, hx) =>
        (id, Multimodal.fakeMedia("img", 8, 4, hx.getBytes("US-ASCII")))
      }.toDF("doc_id", "media")
    Multimodal.withDHash(media, "media")
      .select(col("doc_id"),
        lpad(bin(col("dhash")), 64, "0").as("dhash_bits"))
      .orderBy("doc_id")
  }

  val q178Sql: String = {
    // one copy of the resample math (w=8, h=4 — the md5-hex grid),
    // mirrored from Multimodal.dHash64's nearest-neighbor sampling
    def pixExpr(y: Int, x: Int): String = {
      val yy = math.min(3, y * 4 / 8)
      val xx = math.min(7, x * 8 / 9)
      s"ord(substr(hx, ${yy * 8 + xx + 1}, 1))"
    }
    val bits = (63 to 0 by -1).map { b =>
      val y = b / 8
      val x = b % 8
      s"(CASE WHEN ${pixExpr(y, x)} > ${pixExpr(y, x + 1)} THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""WITH h0 AS (SELECT doc_id, md5(text) AS hx FROM documents)
       |SELECT doc_id, $bits AS dhash_bits FROM h0 ORDER BY doc_id"""
      .stripMargin
  }

  /** q90's streaming twin — the SAME point-in-time SCD2 lookup run
    * through the REAL Structured Streaming path
    * ([[graft.streaming.EventStream.scdEnrichStream]]: file source →
    * stateless broadcast interval-containment join → memory sink,
    * bounded replay under AvailableNow), sharing q90's oracle. The
    * facts stream from a temp parquet copy (a file SOURCE directory —
    * the testdata file stays untouched); the SCD2 dim is built once,
    * batch-side, as in q90. Micro-batch boundaries cannot affect the
    * result because the join is per-row and stateless — which is
    * exactly the property this oracle run certifies. */
  def q179StreamScdEnrich(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "orders").filter(col("o_custkey") < 100)
      .select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
    val scd = graft.etl.Scd.scd2FromChangeLog(src,
      keyCols = Seq("o_custkey"), attrCols = Seq("o_orderpriority"),
      orderCols = Seq("o_orderdate", "o_orderkey"))
      .select(col("o_custkey"), col("o_orderpriority").as("state"),
        col("valid_from"), col("valid_to"), col("version"))
    val facts = src.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderdate").as("ts"))
    val tmp = java.nio.file.Files.createTempDirectory("q179_src")
    val srcDir = tmp.toString
    facts.write.mode("overwrite").parquet(srcDir)
    val name = "q179_sink_" + java.lang.Long.toHexString(System.nanoTime())
    val q = graft.streaming.EventStream.scdEnrichStream(s, srcDir, facts,
      scd, key = "o_custkey", ts = "ts", attrs = Seq("state", "version"),
      queryName = name)
    require(q.awaitTermination(300000), "q179 streaming replay timed out")
    s.table(name)
      .select(col("o_orderkey"), col("o_custkey"), col("state"),
        col("version"))
      .orderBy("o_orderkey")
  }

  /** Oracle-drift canary — the q157 class of failure (a DuckDB
    * version/typing change silently shifting oracle output) pinned to
    * ONE named row per behavior. Every probe is a cross-engine
    * semantics the oracle corpus depends on: HUGEINT→BIGINT sum
    * downcasts, int division yielding DOUBLE, HALF_UP rounding,
    * binary (non-ICU) string collation, leap-day interval clamping,
    * NaN self-equality, IN-list null propagation, DuckDB's log()
    * being base-10 (Spark's is ln — oracle authors must translate),
    * trimming string→int casts. If a DuckDB upgrade changes any of
    * them, THIS query's hash fails by probe name instead of
    * scattering mysterious failures across real queries. The Spark
    * side computes each probe with its own engine semantics — both
    * engines agree on these TODAY (verified against DuckDB 1.0.0);
    * the canary pins that agreement. */
  def q180OracleCanary(s: SparkSession, dir: String): DataFrame =
    s.sql("""
      |SELECT 'avg_int' AS probe,
      |  CAST((SELECT avg(x) FROM VALUES (1),(2) AS t(x)) AS DOUBLE) AS v
      |UNION ALL SELECT 'datediff_days',
      |  CAST(datediff(DATE '2020-03-01', DATE '2020-02-01') AS DOUBLE)
      |UNION ALL SELECT 'dec_div',
      |  CAST(CAST(1.10 AS DECIMAL(10,2)) / 4 AS DOUBLE)
      |UNION ALL SELECT 'epoch_val',
      |  CAST(unix_timestamp(TIMESTAMP '2020-01-01 00:00:00') AS DOUBLE)
      |UNION ALL SELECT 'in_null_isnull',
      |  CAST((1 IN (2, CAST(NULL AS INT))) IS NULL AS DOUBLE)
      |UNION ALL SELECT 'int_div', CAST(7 / 2 AS DOUBLE)
      |UNION ALL SELECT 'leap_clamp',
      |  CAST(CAST(DATE '2020-02-29' + INTERVAL 1 YEAR AS DATE)
      |    = DATE '2021-02-28' AS DOUBLE)
      |UNION ALL SELECT 'least_null',
      |  CAST(least(1, CAST(NULL AS INT)) AS DOUBLE)
      |UNION ALL SELECT 'log10_convention', CAST(round(log10(100), 6) AS DOUBLE)
      |UNION ALL SELECT 'mod_neg', CAST(-7 % 3 AS DOUBLE)
      |UNION ALL SELECT 'nan_eq',
      |  CAST(CAST('NaN' AS DOUBLE) = CAST('NaN' AS DOUBLE) AS DOUBLE)
      |UNION ALL SELECT 'pow_val', CAST(power(2, 10) AS DOUBLE)
      |UNION ALL SELECT 'round_half', CAST(round(2.5, 0) AS DOUBLE)
      |UNION ALL SELECT 'round_neg_half', CAST(round(-2.5, 0) AS DOUBLE)
      |UNION ALL SELECT 'str_cmp_binary', CAST('a' < 'B' AS DOUBLE)
      |UNION ALL SELECT 'substr_idx',
      |  CAST(substr('hello', 2, 2) = 'el' AS DOUBLE)
      |UNION ALL SELECT 'sum_int_bigint', CAST(CAST(
      |  (SELECT sum(x) FROM VALUES (1),(2),(3) AS t(x)) AS BIGINT) AS DOUBLE)
      |UNION ALL SELECT 'trim_cast', CAST(CAST('  42  ' AS INT) AS DOUBLE)
      |ORDER BY probe""".stripMargin)

  val q180Sql: String =
    """SELECT 'avg_int' AS probe,
      |  CAST((SELECT avg(x) FROM (VALUES (1),(2)) t(x)) AS DOUBLE) AS v
      |UNION ALL SELECT 'datediff_days',
      |  CAST(datediff('day', DATE '2020-02-01', DATE '2020-03-01') AS DOUBLE)
      |UNION ALL SELECT 'dec_div',
      |  CAST(CAST(1.10 AS DECIMAL(10,2)) / 4 AS DOUBLE)
      |UNION ALL SELECT 'epoch_val',
      |  CAST(extract(epoch FROM TIMESTAMP '2020-01-01 00:00:00') AS DOUBLE)
      |UNION ALL SELECT 'in_null_isnull',
      |  CAST((1 IN (2, CAST(NULL AS INT))) IS NULL AS DOUBLE)
      |UNION ALL SELECT 'int_div', CAST(7 / 2 AS DOUBLE)
      |UNION ALL SELECT 'leap_clamp',
      |  CAST(CAST(DATE '2020-02-29' + INTERVAL 1 YEAR AS DATE)
      |    = DATE '2021-02-28' AS DOUBLE)
      |UNION ALL SELECT 'least_null',
      |  CAST(least(1, CAST(NULL AS INT)) AS DOUBLE)
      |UNION ALL SELECT 'log10_convention', CAST(round(log(100), 6) AS DOUBLE)
      |UNION ALL SELECT 'mod_neg', CAST(-7 % 3 AS DOUBLE)
      |UNION ALL SELECT 'nan_eq',
      |  CAST(CAST('NaN' AS DOUBLE) = CAST('NaN' AS DOUBLE) AS DOUBLE)
      |UNION ALL SELECT 'pow_val', CAST(2 ^ 10 AS DOUBLE)
      |UNION ALL SELECT 'round_half', CAST(round(2.5, 0) AS DOUBLE)
      |UNION ALL SELECT 'round_neg_half', CAST(round(-2.5, 0) AS DOUBLE)
      |UNION ALL SELECT 'str_cmp_binary', CAST('a' < 'B' AS DOUBLE)
      |UNION ALL SELECT 'substr_idx',
      |  CAST(substr('hello', 2, 2) = 'el' AS DOUBLE)
      |UNION ALL SELECT 'sum_int_bigint', CAST(CAST(
      |  (SELECT sum(x) FROM (VALUES (1),(2),(3)) t(x)) AS BIGINT) AS DOUBLE)
      |UNION ALL SELECT 'trim_cast', CAST(CAST('  42  ' AS INT) AS DOUBLE)
      |ORDER BY probe""".stripMargin

  /** EXACT SUBSTRING DEDUP (Lee et al. 2021, arXiv:2107.06499): remove
    * every token covered by a non-keeper occurrence of a duplicated
    * 8-token span, corpus-wide ([[graft.dedup.Dedup.spanDedup]]).
    * Where the paper builds one suffix array over the concatenated
    * corpus (a single-machine structure), the Spark shape is sliding
    * token windows + a two-stage hash-screen/string-verify group — the
    * wide string shuffle only ever carries duplicated candidates. The
    * oracle replays the whole chain: windows via 1-based list slicing,
    * global count>1, min-(doc,start) keeper, coverage anti join,
    * position-ordered reassembly. clean_text is compared VERBATIM, so
    * keeper choice, overlap union, and join order are all pinned. */
  def q181SpanDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.spanDedup(t(s, dir, "documents"), "doc_id", "text", w = 8)
      .orderBy("doc_id")

  val q181Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
      |                             x -> x <> '') AS ts
      |  FROM documents),
      |wins AS (
      |  SELECT doc_id,
      |    unnest(generate_series(1, greatest(len(ts)-8+1, 0))) AS s, ts
      |  FROM toks),
      |occ AS (SELECT doc_id, s, array_to_string(ts[s:s+8-1], ' ') AS wtext
      |        FROM wins),
      |dup AS (SELECT wtext, min(ROW(doc_id, s)) AS keeper
      |        FROM occ GROUP BY wtext HAVING count(*) > 1),
      |removed AS (
      |  SELECT o.doc_id, o.s FROM occ o JOIN dup d USING (wtext)
      |  WHERE ROW(o.doc_id, o.s) <> d.keeper),
      |cov AS (
      |  SELECT DISTINCT doc_id, unnest(generate_series(s, s+8-1)) AS pos
      |  FROM removed),
      |tp AS (
      |  SELECT doc_id, unnest(ts) AS tok,
      |         unnest(generate_series(1, len(ts))) AS pos
      |  FROM toks),
      |kept AS (
      |  SELECT tp.doc_id, tp.tok, tp.pos FROM tp
      |  ANTI JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos),
      |clean AS (
      |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
      |         count(*) AS n_kept
      |  FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
      |  CAST(len(t.ts) - coalesce(c.n_kept, 0) AS BIGINT) AS n_removed,
      |  coalesce(c.clean_text, '') AS clean_text
      |FROM toks t LEFT JOIN clean c USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** PRODUCT-QUANTIZED ANN ([[graft.sim.Pq]], Jégou et al. 2011):
    * m=4 sub-quantizers of 16 codes (one KMeansRel Lloyd round each,
    * md5-seeded), corpus encoded to 4 small codes per vector, queries
    * answered by ADC — Σ of per-subspace expanded distances to the
    * coded centroids, ranked per query. The oracle replays ALL FOUR
    * sub-fits (seed draw, assign, DECIMAL-exact means on the
    * 9-decimal grid), the per-subspace argmin encode, and the ADC sum
    * in SQL — one drifting centroid digit anywhere fails the hash.
    * Ranks on the RAW double (ties to lower id), emits round-6. */
  def q182PqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.sim.Pq.pqTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding")),
      "qid", m = 4, kCodes = 16, iters = 1, k = 5)
      .orderBy("qid", "rn")
  }

  val q182Sql: String = {
    val m = 4; val sub = 16
    def lo(s: Int) = s * sub + 1
    def hi(s: Int) = (s + 1) * sub
    // per-subspace slice relation, init, one KMeansRel round, encode
    val perSub = (0 until m).map { s =>
      s"""v$s AS (SELECT vec_id, ve[${lo(s)}:${hi(s)}] AS sv FROM v),
         |i$s AS (SELECT CAST(rn - 1 AS BIGINT) AS c, sv AS cv
         |  FROM sel JOIN v$s USING (vec_id) WHERE rn <= 16),
         |a$s AS (SELECT vec_id, c AS cluster FROM (
         |  SELECT v$s.vec_id, i$s.c, row_number() OVER (PARTITION BY v$s.vec_id
         |    ORDER BY list_dot_product(i$s.cv, i$s.cv)
         |      - 2 * list_dot_product(v$s.sv, i$s.cv), i$s.c) AS rn
         |  FROM v$s, i$s) WHERE rn = 1),
         |m$s AS (SELECT cluster, pos,
         |  round(CAST(sum(CAST(e AS DECIMAL(38, 12))) AS DOUBLE) / count(*), 9) AS mn
         |  FROM (SELECT a$s.cluster, unnest(v$s.sv) AS e,
         |        unnest(range(len(v$s.sv))) AS pos FROM a$s JOIN v$s USING (vec_id))
         |  GROUP BY 1, 2),
         |b$s AS (SELECT p.c, coalesce(n.cv, p.cv) AS cv FROM i$s p LEFT JOIN
         |  (SELECT cluster AS c, list(mn ORDER BY pos) AS cv FROM m$s GROUP BY 1) n
         |  USING (c)),
         |e$s AS (SELECT vec_id, c AS code FROM (
         |  SELECT v$s.vec_id, b$s.c, row_number() OVER (PARTITION BY v$s.vec_id
         |    ORDER BY list_dot_product(b$s.cv, b$s.cv)
         |      - 2 * list_dot_product(v$s.sv, b$s.cv), b$s.c) AS rn
         |  FROM v$s, b$s) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val adcTerms = (0 until m).map { s =>
      s"""(list_dot_product(b$s.cv, b$s.cv)
         |   - 2 * list_dot_product(q.ve[${lo(s)}:${hi(s)}], b$s.cv)
         |   + list_dot_product(q.ve[${lo(s)}:${hi(s)}], q.ve[${lo(s)}:${hi(s)}]))""".stripMargin
    }.mkString(" + ")
    val joins = "e0 JOIN b0 ON b0.c = e0.code " + (1 until m).map(s =>
      s"JOIN e$s USING (vec_id) JOIN b$s ON b$s.c = e$s.code").mkString(" ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
       |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       |sel AS (SELECT vec_id, row_number() OVER (
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM v),
       |$perSub,
       |q AS (SELECT vec_id AS qid, ve FROM v WHERE vec_id % 100 = 0),
       |d AS (SELECT q.qid, e0.vec_id AS vid, $adcTerms AS ad2r
       |  FROM q, $joins),
       |r AS (SELECT qid, vid, round(ad2r, 6) AS ad2,
       |  row_number() OVER (PARTITION BY qid ORDER BY ad2r, vid) AS rn
       |  FROM d)
       |SELECT qid, vid AS vec_id, ad2, CAST(rn AS BIGINT) AS rn
       |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
  }

  /** CORPUS-TRAINED BIGRAM PERPLEXITY ([[graft.text.NgramLm]]) — the
    * CCNet-style LM quality gate's scoring half: every document's
    * add-0.5 bigram perplexity under the corpus's own counts.
    * Count tables are vocabulary-sized groupBys; scoring rejoins the
    * bigram stream on the same keys; the per-doc mean accumulates
    * 9-decimal-rounded log-probs in DECIMAL(38,12) so partial
    * aggregation order cannot perturb the 6-decimal perplexity. The
    * oracle replays tokenization, counts, smoothing, and the decimal
    * mean. */
  def q183Perplexity(s: SparkSession, dir: String): DataFrame =
    graft.text.NgramLm.perplexity(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val q183Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
      |                             x -> x <> '') AS ts
      |  FROM documents),
      |big AS (
      |  SELECT doc_id, unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2
      |  FROM toks WHERE len(ts) >= 2),
      |uc AS (SELECT w1 AS w, count(*) AS cw FROM big GROUP BY w1),
      |v AS (SELECT count(*) AS vs FROM (SELECT DISTINCT unnest(ts) AS t FROM toks)),
      |bc AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
      |sc AS (
      |  SELECT b.doc_id,
      |    round(ln((bc.cb + 0.5) / (uc.cw + 0.5 * (SELECT vs FROM v))), 9) AS lp
      |  FROM big b JOIN bc USING (w1, w2) JOIN uc ON b.w1 = uc.w),
      |agg AS (SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(CAST(lp AS DECIMAL(38, 12))) AS DOUBLE) / count(*) AS mlp
      |  FROM sc GROUP BY doc_id)
      |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
      |  round(exp(-mlp), 6) AS ppl
      |FROM agg ORDER BY doc_id""".stripMargin

  /** STREAMING NEAR-DUP INGESTION ([[graft.streaming.DocStream]]):
    * the REAL AvailableNow stream runs inside the query — the corpus
    * lands as three id-ranged files drained one per micro-batch (mod
    * time fixes arrival order), each batch rejecting docs near-dup to
    * the already-accepted corpus (cross-first), then deduping its own
    * survivors. On this fixture's dup graph (pairs + one triangle,
    * verified) greedy first-wins ≡ offline connected-component
    * keep-min with id-ordered arrival, so the stream replays against
    * the OFFLINE exact-Jaccard CC oracle — the chain-divergence case
    * where the two differ is pinned separately in DocStreamSpec. */
  def q184StreamNearDupIngest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val tmp = java.nio.file.Files.createTempDirectory("q184_src").toString
    val sinkRoot = java.nio.file.Files.createTempDirectory("q184_sink").toString
    val sink = sinkRoot + "/accepted"
    val cp = java.nio.file.Files.createTempDirectory("q184_cp").toString
    try {
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val (cut1, cut2) = (maxId / 3, 2 * maxId / 3)
      // the file source orders batches by mod time: stamp each wave's
      // files EXPLICITLY one second apart (FileSystem.setTimes) —
      // sleeping between writes would rely on filesystem timestamp
      // granularity, a latent flake on coarse-grained filesystems
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sessionState.newHadoopConf())
      val stamped = scala.collection.mutable.Set[String]()
      val base = 1600000000000L
      Seq(
        docs.filter(col("doc_id") <= cut1),
        docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2),
        docs.filter(col("doc_id") > cut2)
      ).zipWithIndex.foreach { case (part, i) =>
        part.coalesce(1).write.mode("append").parquet(tmp)
        fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
          .foreach { st =>
            if (stamped.add(st.getPath.getName))
              fs.setTimes(st.getPath, base + i * 1000L, -1)
          }
      }
      val name = "q184_ingest_" + java.lang.Long.toHexString(System.nanoTime())
      val q = graft.streaming.DocStream.nearDupIngestStream(s, tmp, docs,
        "doc_id", "text", threshold = 0.9, sink, name, Some(cp),
        maxFilesPerTrigger = Some(1))
      require(q.awaitTermination(300000), "q184 ingest timed out")
      // materialize before the finally deletes the sink the plan reads
      val acc = graft.streaming.DocStream.accepted(s, sink, docs)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
      val rows = java.util.Arrays.asList(acc.collect(): _*)
      s.createDataFrame(rows, acc.schema).orderBy("doc_id")
    } finally
      Seq(tmp, sinkRoot, cp).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  val q184Sql: String =
    s"""WITH RECURSIVE ${dupClusterCteSqlFrom("documents")},
      |cl AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id)
      |SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id NOT IN (SELECT id FROM cl WHERE cluster <> id)
      |ORDER BY doc_id""".stripMargin

  /** SAMPLED PQ CODEBOOK FIT ([[graft.sim.Pq.fitSample]]) — the
    * production fit shape: codebooks are fit on an md5-deterministic
    * ~50% sample of the corpus (hash-threshold '8' on vec_id — the
    * portable [[graft.features.Features.hashSample]] idiom), then the
    * FULL corpus is encoded and searched by ADC. Per-Lloyd-round cost
    * drops from O(corpus) to O(sample) — the fix for the full-fit's
    * 1000×-decade cell-mean aggregates — while encode stays a
    * zero-shuffle projection over everything. The oracle re-draws the
    * identical sample and replays all four sub-fits, the full-corpus
    * encode, and the ADC sum. */
  def q185PqSampleTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val model = graft.sim.Pq.fitSample(emb, "vec_id", "embedding",
      m = 4, kCodes = 16, iters = 1, hexThreshold = "8")
    graft.sim.Pq.adcTopK(
      graft.sim.Pq.encode(emb, "vec_id", "embedding", model), "vec_id",
      emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding")),
      "qid", "embedding", model, k = 5)
      .orderBy("qid", "rn")
  }

  val q185Sql: String = {
    val m = 4; val sub = 16
    def lo(s: Int) = s * sub + 1
    def hi(s: Int) = (s + 1) * sub
    // fit CTEs read the SAMPLED slices (vf$s); encode reads the FULL
    // slices (v$s) — the q182 template with the fit corpus swapped
    val perSub = (0 until m).map { s =>
      s"""v$s AS (SELECT vec_id, ve[${lo(s)}:${hi(s)}] AS sv FROM v),
         |vf$s AS (SELECT vec_id, ve[${lo(s)}:${hi(s)}] AS sv FROM vf),
         |i$s AS (SELECT CAST(rn - 1 AS BIGINT) AS c, sv AS cv
         |  FROM sel JOIN vf$s USING (vec_id) WHERE rn <= 16),
         |a$s AS (SELECT vec_id, c AS cluster FROM (
         |  SELECT vf$s.vec_id, i$s.c, row_number() OVER (PARTITION BY vf$s.vec_id
         |    ORDER BY list_dot_product(i$s.cv, i$s.cv)
         |      - 2 * list_dot_product(vf$s.sv, i$s.cv), i$s.c) AS rn
         |  FROM vf$s, i$s) WHERE rn = 1),
         |m$s AS (SELECT cluster, pos,
         |  round(CAST(sum(CAST(e AS DECIMAL(38, 12))) AS DOUBLE) / count(*), 9) AS mn
         |  FROM (SELECT a$s.cluster, unnest(vf$s.sv) AS e,
         |        unnest(range(len(vf$s.sv))) AS pos FROM a$s JOIN vf$s USING (vec_id))
         |  GROUP BY 1, 2),
         |b$s AS (SELECT p.c, coalesce(n.cv, p.cv) AS cv FROM i$s p LEFT JOIN
         |  (SELECT cluster AS c, list(mn ORDER BY pos) AS cv FROM m$s GROUP BY 1) n
         |  USING (c)),
         |e$s AS (SELECT vec_id, c AS code FROM (
         |  SELECT v$s.vec_id, b$s.c, row_number() OVER (PARTITION BY v$s.vec_id
         |    ORDER BY list_dot_product(b$s.cv, b$s.cv)
         |      - 2 * list_dot_product(v$s.sv, b$s.cv), b$s.c) AS rn
         |  FROM v$s, b$s) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val adcTerms = (0 until m).map { s =>
      s"""(list_dot_product(b$s.cv, b$s.cv)
         |   - 2 * list_dot_product(q.ve[${lo(s)}:${hi(s)}], b$s.cv)
         |   + list_dot_product(q.ve[${lo(s)}:${hi(s)}], q.ve[${lo(s)}:${hi(s)}]))""".stripMargin
    }.mkString(" + ")
    val joins = "e0 JOIN b0 ON b0.c = e0.code " + (1 until m).map(s =>
      s"JOIN e$s USING (vec_id) JOIN b$s ON b$s.c = e$s.code").mkString(" ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
       |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       |vf AS (SELECT vec_id, ve FROM v
       |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'),
       |sel AS (SELECT vec_id, row_number() OVER (
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM vf),
       |$perSub,
       |q AS (SELECT vec_id AS qid, ve FROM v WHERE vec_id % 100 = 0),
       |d AS (SELECT q.qid, e0.vec_id AS vid, $adcTerms AS ad2r
       |  FROM q, $joins),
       |r AS (SELECT qid, vid, round(ad2r, 6) AS ad2,
       |  row_number() OVER (PARTITION BY qid ORDER BY ad2r, vid) AS rn
       |  FROM d)
       |SELECT qid, vid AS vec_id, ad2, CAST(rn AS BIGINT) AS rn
       |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
  }

  /** REAL-CODEC PERCEPTUAL dHASH ([[graft.multimodal.Multimodal
    * .decode]], javax.imageio): each doc's md5 hex drives a 9×8
    * grayscale pixel pattern, encoded to a REAL PNG (JDK ImageIO
    * writer), decoded back through the real ImageIO reader path, and
    * dHashed. At 9×8 the dHash grid is the IDENTITY resample, so the
    * oracle replays all 64 gradient bits straight from the md5
    * arithmetic — and emits format/width/height from the decoded
    * metadata. Hash-green HERE certifies the real PNG encode→decode
    * round-trip is bit-exact: a silent fallback to the fake-header
    * stub would report a garbage format tag and hash garbage pixels. */
  def q186MediaDhashPng(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Multimodal
    val media = t(s, dir, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("hx"))
      .as[(Long, String)]
      .map { case (id, hx) =>
        val px = Array.tabulate[Byte](72)(i => hx.charAt(i % 32).toByte)
        (id, Multimodal.grayPng(px, 9, 8))
      }.toDF("doc_id", "media")
    Multimodal.withMeta(Multimodal.withDHash(media, "media"), "media")
      .select(col("doc_id"),
        col("meta").getField("format").as("fmt"),
        col("meta").getField("width").cast("long").as("w"),
        col("meta").getField("height").cast("long").as("h"),
        lpad(bin(col("dhash")), 64, "0").as("dhash_bits"))
      .orderBy("doc_id")
  }

  val q186Sql: String = {
    def pixExpr(y: Int, x: Int): String =
      s"ord(substr(hx, ${(y * 9 + x) % 32 + 1}, 1))"
    val bits = (63 to 0 by -1).map { b =>
      val y = b / 8
      val x = b % 8
      s"(CASE WHEN ${pixExpr(y, x)} > ${pixExpr(y, x + 1)} THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""WITH h0 AS (SELECT doc_id, md5(text) AS hx FROM documents)
       |SELECT doc_id, 'png' AS fmt, CAST(9 AS BIGINT) AS w,
       |  CAST(8 AS BIGINT) AS h, $bits AS dhash_bits
       |FROM h0 ORDER BY doc_id""".stripMargin
  }

  /** NEAR-DUP DEDUP FROM MATERIALIZED SIGNATURES
    * ([[graft.dedup.Dedup.nearDupPairsFromSignatures]]): the lake
    * layout — [[graft.dedup.Dedup.nearDupSignatures]] written to
    * parquet ONCE (what `DocStream` persists per committed batch),
    * read back, and deduped entirely from the stored `(id, bands,
    * sh)` relation; the corpus text is never touched after signature
    * build. Shares q23's exact O(n²) Jaccard oracle: the
    * stored-signature path must reproduce the text path
    * bit-for-bit. */
  def q187SignatureDedup(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("q187_sigs").toString
    try {
      Dedup.nearDupSignatures(t(s, dir, "documents"), "doc_id", "text")
        .write.mode("overwrite").parquet(tmp)
      val pairs = Dedup
        .nearDupPairsFromSignatures(s.read.parquet(tmp), threshold = 0.9)
        .orderBy("id_a", "id_b")
      val rows = java.util.Arrays.asList(pairs.collect(): _*)
      s.createDataFrame(rows, pairs.schema).orderBy("id_a", "id_b")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** REAL-CODEC AUDIO WINDOW ENERGY ([[graft.multimodal.Multimodal
    * .decodeAudio]], javax.sound.sampled): each doc's md5 hex drives
    * 32 PCM16 samples ((ord − 80)·256), encoded as a REAL RIFF/WAV
    * container, decoded back through the JDK's actual WAV parser, and
    * folded into exact integer window energies (Σ s² per 8-sample
    * window, Long arithmetic — zero float drift). The oracle replays
    * the energies from the md5 arithmetic; hash-green certifies the
    * WAV encode→decode round-trip, the q186 pattern for the audio
    * modality. */
  def q188AudioEnergy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Multimodal
    val media = t(s, dir, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("hx"))
      .as[(Long, String)]
      .map { case (id, hx) =>
        val samples = Array.tabulate[Short](32)(i =>
          ((hx.charAt(i).toInt - 80) * 256).toShort)
        (id, Multimodal.pcm16Wav(samples, 16000))
      }.toDF("doc_id", "media")
    Multimodal.audioWindowEnergy(media, "doc_id", "media",
      windowSamples = 8)
      .select(col("doc_id"), col("win").cast("long").as("win"),
        col("n_samples").cast("long").as("n_samples"), col("energy"))
      .orderBy("doc_id", "win")
  }

  val q188Sql: String =
    """WITH h0 AS (SELECT doc_id, md5(text) AS hx FROM documents),
      |sm AS (SELECT doc_id, unnest(generate_series(1, 32)) AS i, hx FROM h0),
      |sv AS (SELECT doc_id, i, (ord(substr(hx, i, 1)) - 80) * 256 AS s FROM sm),
      |w AS (SELECT doc_id, CAST((i - 1) // 8 AS BIGINT) AS win,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS energy
      |  FROM sv GROUP BY 1, 2)
      |SELECT doc_id, win, n_samples, energy FROM w
      |ORDER BY doc_id, win""".stripMargin

  /** REAL-CODEC VIDEO FRAMES ([[graft.multimodal.Multimodal
    * .videoFrameDHash]]): each doc's md5 hex drives a 3-frame "clip" —
    * frame f's 9×8 grayscale pattern is the hex rotated by 7·f —
    * encoded as a REAL concatenated-PNG container (the lossless twin
    * of MJPEG; [[graft.multimodal.Multimodal.splitFrames]] reads
    * both), split back into frames, decoded through the real ImageIO
    * path per frame, and dHashed at stride 2 (frames 0 and 2 —
    * `frame_no` is the full-sequence index, so the stride shows in
    * the output). The oracle replays each sampled frame's 64 gradient
    * bits from the md5 arithmetic; hash-green certifies the container
    * split + per-frame codec round-trip — a fallback to the stub (or
    * a mis-split) would hash garbage or emit wrong frame numbers. */
  def q189VideoFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Multimodal
    val media = t(s, dir, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("hx"))
      .as[(Long, String)]
      .map { case (id, hx) =>
        val clip = (0 until 3).map { f =>
          val px = Array.tabulate[Byte](72)(i =>
            hx.charAt((i + 7 * f) % 32).toByte)
          Multimodal.grayPng(px, 9, 8)
        }.reduce(_ ++ _)
        (id, clip)
      }.toDF("doc_id", "media")
    Multimodal.videoFrameDHash(media, "doc_id", "media", stride = 2)
      .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
        col("format").as("fmt"),
        col("width").cast("long").as("w"),
        col("height").cast("long").as("h"),
        lpad(bin(col("dhash")), 64, "0").as("dhash_bits"))
      .orderBy("doc_id", "frame_no")
  }

  val q189Sql: String = {
    def pixExpr(f: Int, y: Int, x: Int): String =
      s"ord(substr(hx, ${((y * 9 + x) + 7 * f) % 32 + 1}, 1))"
    def bits(f: Int) = (63 to 0 by -1).map { b =>
      val y = b / 8
      val x = b % 8
      s"(CASE WHEN ${pixExpr(f, y, x)} > ${pixExpr(f, y, x + 1)} " +
        "THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""WITH h0 AS (SELECT doc_id, md5(text) AS hx FROM documents),
       |f AS (SELECT doc_id, hx, unnest([0, 2]) AS fn FROM h0)
       |SELECT doc_id, CAST(fn AS BIGINT) AS frame_no, 'png' AS fmt,
       |  CAST(9 AS BIGINT) AS w, CAST(8 AS BIGINT) AS h,
       |  CASE WHEN fn = 0 THEN ${bits(0)} ELSE ${bits(2)} END AS dhash_bits
       |FROM f ORDER BY doc_id, frame_no""".stripMargin
  }

  /** CLIP-LEVEL VIDEO NEAR-DUP ([[graft.multimodal.Multimodal
    * .videoNearDups]]): docs sharing a group id render the SAME
    * 2-frame clip (md5-of-group pixel patterns, q189's concatenated
    * real-PNG container) perturbed per member (+0/1/2 on one pixel —
    * enough to move a few dHash gradient bits, not enough to leave
    * the Hamming radius), so each group's clips are planted
    * re-encodes. The engine splits containers, decodes frames through
    * the real codec, Hamming-blocks per frame index (full recall ≤
    * maxHamming by pigeonhole), verifies exactly, and keeps pairs
    * matching on BOTH frames; the oracle replays every pixel,
    * gradient bit, and pairwise Hamming from the same doc_id
    * arithmetic over ALL pairs — hash-green certifies the blocking
    * finds exactly the all-pairs answer through the real codec path. */
  def q190VideoDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Multimodal
    val media = t(s, dir, "documents")
      .select(col("doc_id"),
        md5((col("doc_id") % 200).cast("string").cast("binary")).as("hx"))
      .as[(Long, String)]
      .map { case (id, hx) =>
        val r = (id / 200).toInt
        val pert = (r * 13) % 72
        val clip = (0 until 2).map { f =>
          val px = Array.tabulate[Byte](72) { i =>
            (hx.charAt((i + 7 * f) % 32).toInt +
              (if (i == pert) r % 3 else 0)).toByte
          }
          Multimodal.grayPng(px, 9, 8)
        }.reduce(_ ++ _)
        (id, clip)
      }.toDF("doc_id", "media")
    // maxBucket effectively unbounded: the oracle computes ALL pairs,
    // so parity must not depend on fixture scale staying under the
    // default recall cap (the cap is a knob for real corpora, where
    // drops are surfaced via the Observation parameter)
    Multimodal.videoNearDups(media, "doc_id", "media",
      stride = 1, maxHamming = 3, minMatches = 2,
      maxBucket = Int.MaxValue)
      .orderBy("id_a", "id_b")
  }

  val q190Sql: String = {
    def pixExpr(f: Int, y: Int, x: Int): String = {
      val idx = y * 9 + x
      s"(ord(substr(hx, ${(idx + 7 * f) % 32 + 1}, 1)) + " +
        s"(CASE WHEN $idx = (r * 13) % 72 THEN r % 3 ELSE 0 END))"
    }
    def bits(f: Int) = (63 to 0 by -1).map { b =>
      val y = b / 8
      val x = b % 8
      s"(CASE WHEN ${pixExpr(f, y, x)} > ${pixExpr(f, y, x + 1)} " +
        "THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""WITH d AS (SELECT doc_id, doc_id % 200 AS g,
       |  CAST(doc_id // 200 AS INT) AS r FROM documents),
       |h AS (SELECT doc_id, r, md5(CAST(g AS VARCHAR)) AS hx FROM d),
       |b AS (SELECT doc_id, 0 AS fn, ${bits(0)} AS bits FROM h
       |      UNION ALL SELECT doc_id, 1, ${bits(1)} FROM h),
       |p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b, a.fn,
       |  list_sum(list_transform(range(1, 65), i ->
       |    CASE WHEN substr(a.bits, i, 1) <> substr(b2.bits, i, 1)
       |    THEN 1 ELSE 0 END)) AS ham
       |  FROM b a JOIN b b2 ON a.fn = b2.fn AND a.doc_id < b2.doc_id)
       |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_frames,
       |  CAST(sum(ham) AS BIGINT) AS sum_ham
       |FROM p WHERE ham <= 3 GROUP BY 1, 2
       |HAVING count(*) >= 2 ORDER BY id_a, id_b""".stripMargin
  }

  /** AUDIO NEAR-DUP ([[graft.multimodal.Multimodal.audioNearDups]]):
    * docs sharing a group id render the SAME 130-sample PCM16 clip
    * (md5-of-group arithmetic, real RIFF/WAV container — the q188
    * fixture recipe) perturbed per member on one sample, so groups
    * are planted re-encodes whose energy-gradient fingerprints
    * ([[graft.multimodal.Multimodal.audioFingerprint64]] — bit b =
    * energy(b) > energy(b+1), exact Long Σs² windows) sit 0–3
    * Hamming bits apart. The engine decodes through the real JDK WAV
    * parser and blocks by pigeonhole Hamming bands (full recall,
    * exact verify); the oracle replays every sample, window energy,
    * gradient bit, and pairwise Hamming from doc_id arithmetic over
    * ALL pairs — hash-green certifies blocking ≡ all-pairs through
    * the real audio codec path. */
  def q191AudioDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Multimodal
    val media = t(s, dir, "documents")
      .select(col("doc_id"),
        md5((col("doc_id") % 200).cast("string").cast("binary")).as("hx"))
      .as[(Long, String)]
      .map { case (id, hx) =>
        val r = (id / 200).toInt
        val pert = (r * 7) % 130
        val samples = Array.tabulate[Short](130) { i =>
          ((hx.charAt(i % 32).toInt - 80) * 257 +
            (if (i == pert) (r % 3) * 2000 else 0)).toShort
        }
        (id, Multimodal.pcm16Wav(samples, 16000))
      }.toDF("doc_id", "media")
    Multimodal.audioNearDups(media, "doc_id", "media",
      windowSamples = 2, maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  val q191Sql: String =
    """WITH d AS (SELECT doc_id, doc_id % 200 AS g,
      |  CAST(doc_id // 200 AS INT) AS r FROM documents),
      |h AS (SELECT doc_id, r, md5(CAST(g AS VARCHAR)) AS hx FROM d),
      |sm AS (SELECT doc_id, r, hx, unnest(generate_series(0, 129)) AS i FROM h),
      |sv AS (SELECT doc_id, i, (ord(substr(hx, (i % 32) + 1, 1)) - 80) * 257
      |  + (CASE WHEN i = (r * 7) % 130 THEN (r % 3) * 2000 ELSE 0 END) AS s
      |  FROM sm),
      |e AS (SELECT doc_id, CAST(i // 2 AS INT) AS win,
      |  sum(CAST(s AS BIGINT) * s) AS en FROM sv GROUP BY 1, 2),
      |bset AS (SELECT doc_id, win, CASE WHEN en > lead(en)
      |  OVER (PARTITION BY doc_id ORDER BY win) THEN 1 ELSE 0 END AS bit
      |  FROM e),
      |bits AS (SELECT doc_id,
      |  string_agg(CAST(bit AS VARCHAR), '' ORDER BY win DESC) AS bs
      |  FROM bset WHERE win < 64 GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  list_sum(list_transform(range(1, 65), i ->
      |    CASE WHEN substr(a.bs, i, 1) <> substr(b.bs, i, 1)
      |    THEN 1 ELSE 0 END)) AS ham
      |  FROM bits a JOIN bits b ON a.doc_id < b.doc_id)
      |SELECT id_a, id_b, CAST(ham AS BIGINT) AS hamming FROM p
      |WHERE ham <= 3 ORDER BY id_a, id_b""".stripMargin

  /** STREAMING AS-OF ENRICHMENT WITH SINK COMPACTION
    * ([[graft.streaming.EventStream.asOfEnrichForeachBatch]] +
    * [[graft.streaming.SinkFold]]): the REAL AvailableNow stream runs
    * inside the query — clicks land as four id-ranged files drained
    * one per micro-batch (mod time fixes arrival order), each batch
    * as-of-joins against the static error history and overwrites its
    * own partition, and `compactEvery = 2` folds committed partitions
    * into manifest-carrying generations MID-STREAM. The result reads
    * through the generation-aware reader, so hash-green certifies the
    * whole lifecycle: batching the left side of an as-of join cannot
    * change any row's match, and folding partitions cannot lose,
    * duplicate, or reorder rows. Oracle = q41's DuckDB ASOF JOIN
    * verbatim (same relations, same tie-break dedup). */
  def q192StreamAsofCompact(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val errors = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("err_id"),
        max_by(col("value"), col("event_id")).as("err_value"))
    val tmp = java.nio.file.Files.createTempDirectory("q192_src").toString
    val sinkRoot = java.nio.file.Files.createTempDirectory("q192_sink").toString
    val sink = sinkRoot + "/enriched"
    val cp = java.nio.file.Files.createTempDirectory("q192_cp").toString
    try {
      val maxId = clicks.agg(max(col("event_id"))).head().getLong(0)
      val cuts = Seq(maxId / 4, maxId / 2, 3 * maxId / 4)
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sessionState.newHadoopConf())
      val stamped = scala.collection.mutable.Set[String]()
      val base = 1600000000000L
      Seq(
        clicks.filter(col("event_id") <= cuts(0)),
        clicks.filter(col("event_id") > cuts(0) && col("event_id") <= cuts(1)),
        clicks.filter(col("event_id") > cuts(1) && col("event_id") <= cuts(2)),
        clicks.filter(col("event_id") > cuts(2))
      ).zipWithIndex.foreach { case (part, i) =>
        part.coalesce(1).write.mode("append").parquet(tmp)
        fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
          .foreach { st =>
            if (stamped.add(st.getPath.getName))
              fs.setTimes(st.getPath, base + i * 1000L, -1)
          }
      }
      val q = graft.streaming.EventStream.asOfEnrichForeachBatch(s, tmp,
        clicks, errors, key = "user_id", ts = "ts",
        carry = Seq("err_id", "err_value"), rightTieBreak = "err_id",
        sinkDir = sink, checkpointDir = cp, compactEvery = 2,
        maxFilesPerTrigger = Some(1))
      require(q.awaitTermination(300000), "q192 stream timed out")
      val enrichedSchema = graft.operators.AsOfJoin.asOf(clicks.limit(0),
        errors, "user_id", "ts", Seq("err_id", "err_value"), "err_id")
      val out = graft.streaming.EventStream.enriched(s, sink, enrichedSchema)
        .select("event_id", "user_id", "err_id", "err_value")
        .orderBy("event_id")
      // materialize before the finally deletes the sink the plan reads
      val rows = java.util.Arrays.asList(out.collect(): _*)
      s.createDataFrame(rows, out.schema).orderBy("event_id")
    } finally
      Seq(tmp, sinkRoot, cp).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  /** The stream + fold must land exactly the batch as-of answer. */
  val q192Sql: String = q41Sql

  /** STREAMING DECONTAMINATED INGEST ([[graft.streaming.DocStream]]
    * with `bench`): the q184 ingest with ONLINE DECONTAMINATION layered
    * in front — every micro-batch first drops documents sharing any
    * 4-gram with the benchmark set (docs with doc_id % 37 = 0, which
    * are themselves in the arriving corpus and so reject themselves),
    * then runs the cross-corpus + in-batch near-dup policy on the
    * clean survivors. Decontamination is per-document against a static
    * broadcast gram set, so batching cannot change any verdict; the
    * near-dup half replays offline CC exactly as in q184 because the
    * clean subset's dup graph is an induced subgraph of the fixture's
    * pairs + triangle (vertex removal keeps cliques cliques). Oracle =
    * offline decontaminate-then-CC-dedup. */
  def q193StreamDecontamIngest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val bench = docs.filter(col("doc_id") % 37 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("q193_src").toString
    val sinkRoot = java.nio.file.Files.createTempDirectory("q193_sink").toString
    val sink = sinkRoot + "/accepted"
    val cp = java.nio.file.Files.createTempDirectory("q193_cp").toString
    try {
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val (cut1, cut2) = (maxId / 3, 2 * maxId / 3)
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sessionState.newHadoopConf())
      val stamped = scala.collection.mutable.Set[String]()
      val base = 1600000000000L
      Seq(
        docs.filter(col("doc_id") <= cut1),
        docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2),
        docs.filter(col("doc_id") > cut2)
      ).zipWithIndex.foreach { case (part, i) =>
        part.coalesce(1).write.mode("append").parquet(tmp)
        fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
          .foreach { st =>
            if (stamped.add(st.getPath.getName))
              fs.setTimes(st.getPath, base + i * 1000L, -1)
          }
      }
      val name = "q193_ingest_" + java.lang.Long.toHexString(System.nanoTime())
      val q = graft.streaming.DocStream.nearDupIngestStream(s, tmp, docs,
        "doc_id", "text", threshold = 0.9, sink, name, Some(cp),
        maxFilesPerTrigger = Some(1), bench = Some(bench), benchGramN = 4)
      require(q.awaitTermination(300000), "q193 ingest timed out")
      val acc = graft.streaming.DocStream.accepted(s, sink, docs)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
      // materialize before the finally deletes the sink the plan reads
      val rows = java.util.Arrays.asList(acc.collect(): _*)
      s.createDataFrame(rows, acc.schema).orderBy("doc_id")
    } finally
      Seq(tmp, sinkRoot, cp).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  val q193Sql: String =
    s"""WITH RECURSIVE ${gramCte(4)},
      |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 37 = 0),
      |cont AS (SELECT DISTINCT doc_id FROM grams
      |         WHERE gram IN (SELECT gram FROM bench)),
      |clean AS (SELECT * FROM documents
      |          WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
      |${dupClusterCteSqlFrom("clean")},
      |cl AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id)
      |SELECT doc_id, lang, n_chars FROM clean
      |WHERE doc_id NOT IN (SELECT id FROM cl WHERE cluster <> id)
      |ORDER BY doc_id""".stripMargin

  /** FORWARD AS-OF JOIN ([[graft.operators.AsOfJoin]] `forward =
    * true`): each click gets the EARLIEST error at-or-after it for the
    * same user — "what broke next", the mirror of q41's point-in-time
    * lookback. Same merge plan over reversed time: one key shuffle,
    * one sort, no range explosion. Oracle is DuckDB's ASOF with the
    * inequality flipped. */
  def q194AsofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val errors = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("err_id"),
        max_by(col("value"), col("event_id")).as("err_value"))
    graft.operators.AsOfJoin
      .asOf(clicks, errors, "user_id", "ts", Seq("err_id", "err_value"),
        "err_id", forward = true)
      .select("event_id", "user_id", "err_id", "err_value")
      .orderBy("event_id")
  }

  val q194Sql: String =
    """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |e AS (SELECT user_id, ts, max(event_id) AS err_id,
      |        arg_max(value, event_id) AS err_value
      |      FROM events WHERE event_type = 'error' GROUP BY 1, 2)
      |SELECT c.event_id, c.user_id, e.err_id, e.err_value
      |FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts <= e.ts
      |ORDER BY c.event_id""".stripMargin

  /** TOLERANCED AS-OF JOIN ([[graft.operators.AsOfJoin]]
    * `toleranceSec`): q41's lookback, but a match farther than 24 h
    * from the click is rejected — the row survives with a null carry,
    * indistinguishable from no-match (the as-of match is the NEAREST
    * candidate, so "nearest too far" = "nothing within tolerance").
    * The pandas merge_asof `tolerance` semantics at one-shuffle scale.
    * Oracle: DuckDB ASOF, the carry nulled by an epoch-distance CASE
    * — correct for exactly the nearest-match reason above. */
  def q195AsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val errors = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("err_id"),
        max_by(col("value"), col("event_id")).as("err_value"))
    graft.operators.AsOfJoin
      .asOf(clicks, errors, "user_id", "ts", Seq("err_id", "err_value"),
        "err_id", toleranceSec = Some(86400.0))
      .select("event_id", "user_id", "err_id", "err_value")
      .orderBy("event_id")
  }

  val q195Sql: String =
    """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |e AS (SELECT user_id, ts, max(event_id) AS err_id,
      |        arg_max(value, event_id) AS err_value
      |      FROM events WHERE event_type = 'error' GROUP BY 1, 2)
      |SELECT c.event_id, c.user_id,
      |  CASE WHEN e.ts IS NOT NULL AND epoch(c.ts) - epoch(e.ts) <= 86400
      |       THEN e.err_id END AS err_id,
      |  CASE WHEN e.ts IS NOT NULL AND epoch(c.ts) - epoch(e.ts) <= 86400
      |       THEN e.err_value END AS err_value
      |FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts >= e.ts
      |ORDER BY c.event_id""".stripMargin

  /** LSH BAND-PLAN TUNER ([[graft.dedup.Dedup.tuneBands]]): every
    * (bands, rowsPerBand) split of a 32-hash MinHash signature scored
    * against the engine's own 0.9 dedup threshold — false-positive
    * area (sub-threshold pairs that still collide → wasted exact
    * verification) and false-negative area (true dups the blocking
    * misses) under the S-curve 1−(1−s^r)^b. This is the math that
    * PICKS the constants the dedup family runs on; the oracle replays
    * the curve point-for-point on the same 99-point grid (9-decimal
    * point rounding, DECIMAL area sums). */
  def q196LshTune(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.tuneBands(s, sigLen = 32, threshold = 0.9)
      .orderBy("b")

  val q196Sql: String =
    """WITH pairs AS (
      |  SELECT b, CAST(32/b AS INT) AS r FROM unnest([1,2,4,8,16,32]) AS t(b)),
      |grid AS (SELECT i/100.0 AS s FROM generate_series(1,99) AS g(i)),
      |pts AS (
      |  SELECT p.b, p.r, g.s,
      |    round(1 - power(1 - power(g.s, p.r), p.b), 9) AS prob
      |  FROM pairs p, grid g),
      |agg AS (
      |  SELECT b, r,
      |    round(CAST(sum(CASE WHEN s < 0.9 THEN CAST(prob AS DECIMAL(38,12))
      |      ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE) / 100, 6) AS fp_area,
      |    round(CAST(sum(CASE WHEN s >= 0.9 THEN CAST(1 - prob AS DECIMAL(38,12))
      |      ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE) / 100, 6) AS fn_area
      |  FROM pts GROUP BY b, r)
      |SELECT b, r, fp_area, fn_area, round(fp_area + fn_area, 6) AS cost
      |FROM agg ORDER BY b""".stripMargin

  /** SOURCE-LEVEL QUALITY GATE ([[graft.etl.Curation.sourceStats]]):
    * the CCNet/RefinedWeb-style domain gate — curation verdicts per
    * ORIGIN, not only per document. One row per source with its doc
    * count, mean n_chars, and the keep verdict (mean ≥ 300, tested
    * without decimal division — see the operator doc). The filter face
    * ([[graft.etl.Curation.sourceFilter]]) is the anti-join application
    * of exactly these verdicts, parity-pinned in CurationSpec. */
  def q197SourceGate(s: SparkSession, dir: String): DataFrame =
    graft.etl.Curation.sourceStats(
      t(s, dir, "documents"), "source", "n_chars", minMean = 300.0)
      .orderBy("source")

  val q197Sql: String =
    """SELECT source, count(*) AS n_docs,
      |  round(CAST(sum(CAST(n_chars AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
      |    AS mean_metric,
      |  CAST(sum(CAST(n_chars AS DECIMAL(38,12))) AS DOUBLE) >= 300.0 * count(*)
      |    AS kept
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** THREE-DIMENSIONAL Z-ORDER ([[graft.operators.ZOrder.zValueN]] —
    * the general bit-by-bit Morton build, dimension i on bit positions
    * b·k+i): lineitem clustered on (l_partkey, l_suppkey, l_quantity),
    * read back as 32 equal z-range buckets with full 3-D bounding
    * boxes. The oracle replays all 48 OR-terms of the interleave
    * verbatim — bucket boxes bit-identical or nothing. */
  def q200Zorder3(s: SparkSession, dir: String): DataFrame =
    graft.operators.ZOrder.zBucketStatsN(
      t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("l_qty")),
      Seq("l_partkey", "l_suppkey", "l_qty"), buckets = 32)
      .orderBy("bucket")

  val q200Sql: String = {
    val dims = Seq("xn", "yn", "qn")
    val z = (for { b <- 0 until 16; i <- dims.indices }
      yield s"(((${dims(i)} >> $b) & 1) << ${b * 3 + i})").mkString(" | ")
    s"""WITH b AS (SELECT min(l_partkey) xmin, max(l_partkey) xmax,
      |  min(l_suppkey) ymin, max(l_suppkey) ymax,
      |  min(CAST(l_quantity AS BIGINT)) qmin,
      |  max(CAST(l_quantity AS BIGINT)) qmax FROM lineitem),
      |n AS (SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS l_qty,
      |  ((l_partkey - (SELECT xmin FROM b)) * 65536)
      |    // ((SELECT xmax FROM b) - (SELECT xmin FROM b) + 1) AS xn,
      |  ((l_suppkey - (SELECT ymin FROM b)) * 65536)
      |    // ((SELECT ymax FROM b) - (SELECT ymin FROM b) + 1) AS yn,
      |  ((CAST(l_quantity AS BIGINT) - (SELECT qmin FROM b)) * 65536)
      |    // ((SELECT qmax FROM b) - (SELECT qmin FROM b) + 1) AS qn
      |  FROM lineitem),
      |z AS (SELECT l_partkey, l_suppkey, l_qty, ($z) AS zv FROM n)
      |SELECT (zv * 32) // ${1L << 48} AS bucket, count(*) AS n,
      |  min(l_partkey) AS l_partkey_min, max(l_partkey) AS l_partkey_max,
      |  min(l_suppkey) AS l_suppkey_min, max(l_suppkey) AS l_suppkey_max,
      |  min(l_qty) AS l_qty_min, max(l_qty) AS l_qty_max
      |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** FORWARD AS-OF THROUGH THE NATIVE PLAN NODE
    * ([[graft.plans.AsOfJoinExec]] `forward = true`): q194's semantics
    * through the custom physical operator — the same ascending
    * co-clustered/co-sorted children (the planner re-sorts NOTHING for
    * the direction flip), with the merge scan retaining the first
    * eligible equal-timestamp run's last row instead of the last
    * stale one. Benched beside q194 the way q173 rides beside q41. */
  def q198AsofFwdNative(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val errors = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("err_id"),
        max_by(col("value"), col("event_id")).as("err_value"))
    graft.operators.AsOfJoin
      .asOfNative(clicks, errors, "user_id", "ts",
        Seq("err_id", "err_value"), "err_id", forward = true)
      .select("event_id", "user_id", "err_id", "err_value")
      .orderBy("event_id")
  }

  val q198Sql: String = q194Sql

  /** Z-ORDER CLUSTERING STATS ([[graft.operators.ZOrder]]): lineitem
    * laid out along the Morton curve of (l_partkey, l_suppkey), read
    * back as 16 equal z-range buckets with their (x, y) bounding
    * boxes — the rectangles a z-clustered file's min-max stats would
    * declare, i.e. the scan-pruning story made oracle-checkable. All
    * arithmetic exact BIGINT (integer-division normalize, shift/mask
    * interleave), replayed bit-for-bit by the oracle's CTE ladder. */
  def q199Zorder(s: SparkSession, dir: String): DataFrame =
    graft.operators.ZOrder.zBucketStats(
      t(s, dir, "lineitem"), "l_partkey", "l_suppkey", buckets = 16)
      .orderBy("bucket")

  val q199Sql: String =
    """WITH b AS (SELECT min(l_partkey) xmin, max(l_partkey) xmax,
      |                  min(l_suppkey) ymin, max(l_suppkey) ymax FROM lineitem),
      |n AS (SELECT l_partkey x, l_suppkey y,
      |  ((l_partkey - (SELECT xmin FROM b)) * 65536)
      |    // ((SELECT xmax FROM b) - (SELECT xmin FROM b) + 1) AS xn,
      |  ((l_suppkey - (SELECT ymin FROM b)) * 65536)
      |    // ((SELECT ymax FROM b) - (SELECT ymin FROM b) + 1) AS yn
      |  FROM lineitem),
      |s1 AS (SELECT x, y, (xn | (xn << 8)) & 16711935 AS xa,
      |                    (yn | (yn << 8)) & 16711935 AS ya FROM n),
      |s2 AS (SELECT x, y, (xa | (xa << 4)) & 252645135 AS xb,
      |                    (ya | (ya << 4)) & 252645135 AS yb FROM s1),
      |s3 AS (SELECT x, y, (xb | (xb << 2)) & 858993459 AS xc,
      |                    (yb | (yb << 2)) & 858993459 AS yc FROM s2),
      |s4 AS (SELECT x, y, (xc | (xc << 1)) & 1431655765 AS xd,
      |                    (yc | (yc << 1)) & 1431655765 AS yd FROM s3),
      |z AS (SELECT x, y, (xd | (yd << 1)) AS zv FROM s4)
      |SELECT (zv * 16) // 4294967296 AS bucket, count(*) AS n,
      |  min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
      |FROM z GROUP BY 1 ORDER BY 1""".stripMargin

  /** WIDE-SPAN Z-ORDER ([[graft.operators.ZOrder]]'s overflow-guarded
    * regime): the clustered dimension is an epoch-micros-style BIGINT
    * spanning ~2^56 (l_orderkey stretched by 2^40 onto a 2004 epoch
    * base) — wide enough that the exact `(v − min) << 16` normalize
    * would WRAP a BIGINT, so the engine pre-shifts the dimension by
    * its excess bits (`s = bitLength(span) − 46`) and divides by
    * `(span >> s) + 2`, exactly. The oracle replays the whole
    * decision: the bit-length CASE ladder picking `s`, the shifted
    * normalize on the wide dimension, the exact normalize on the
    * narrow one, the 16-bit Morton spread, and the bucket split —
    * hash-green certifies the guard's arithmetic cross-engine, not
    * just spec-side. */
  def q201ZorderWide(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "lineitem").select(
      (col("l_orderkey").cast("long") * lit(1099511627776L) + // 2^40
        lit(1_100_000_000_000_000L)).as("ts"),
      col("l_suppkey").cast("long").as("y"))
    graft.operators.ZOrder.zBucketStats(d, "ts", "y", buckets = 16)
      .orderBy("bucket")
  }

  val q201Sql: String = {
    // the engine's shift decision as an exact integer CASE ladder:
    // spans under 2^47 take the exact path (s = 0); wider spans shift
    // by bitLength(span) − 46 (one spare bit absorbs the floor-shift
    // carry — see ZOrder.normalizeBounded)
    val arms = (s"WHEN tspan < ${1L << 47} THEN 0" +:
      (48 to 62).map(b => s"WHEN tspan < ${1L << b} THEN ${b - 46}"))
      .mkString(" ")
    s"""WITH d AS (SELECT CAST(l_orderkey AS BIGINT) * 1099511627776
       |    + 1100000000000000 AS ts, CAST(l_suppkey AS BIGINT) AS y
       |  FROM lineitem),
       |b AS (SELECT min(ts) tmin, max(ts) tmax,
       |             min(y) ymin, max(y) ymax FROM d),
       |j AS (SELECT d.ts, d.y, b.tmin, b.ymin,
       |             b.tmax - b.tmin AS tspan, b.ymax - b.ymin AS yspan
       |      FROM d, b),
       |sh AS (SELECT *, CASE $arms ELSE 17 END AS s FROM j),
       |n AS (SELECT ts, y,
       |  CASE WHEN s = 0 THEN ((ts - tmin) * 65536) // (tspan + 1)
       |       ELSE (((ts >> s) - (tmin >> s)) * 65536) // ((tspan >> s) + 2)
       |  END AS xn,
       |  ((y - ymin) * 65536) // (yspan + 1) AS yn FROM sh),
       |s1 AS (SELECT ts, y, (xn | (xn << 8)) & 16711935 AS xa,
       |                     (yn | (yn << 8)) & 16711935 AS ya FROM n),
       |s2 AS (SELECT ts, y, (xa | (xa << 4)) & 252645135 AS xb,
       |                     (ya | (ya << 4)) & 252645135 AS yb FROM s1),
       |s3 AS (SELECT ts, y, (xb | (xb << 2)) & 858993459 AS xc,
       |                     (yb | (yb << 2)) & 858993459 AS yc FROM s2),
       |s4 AS (SELECT ts, y, (xc | (xc << 1)) & 1431655765 AS xd,
       |                     (yc | (yc << 1)) & 1431655765 AS yd FROM s3),
       |z AS (SELECT ts, y, (xd | (yd << 1)) AS zv FROM s4)
       |SELECT (zv * 16) // 4294967296 AS bucket, count(*) AS n,
       |  min(ts) AS x_min, max(ts) AS x_max,
       |  min(y) AS y_min, max(y) AS y_max
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** SIGNATURE-STORE FETCH DEDUP
    * ([[graft.dedup.Dedup.writeSignatures]] +
    * [[graft.dedup.Dedup.crossNearDupPairsVsSignaturesFetched]]): the
    * ingest stream's steady-state scan shape, as a batch query — the
    * corpus's signatures are written in the signature-STORE layout
    * (bloom filter on id, id-sorted row groups), read back, and the
    * corpus cross-dedups against that store with the exact-verify
    * fetch PUSHED INTO the scan as a collected `IN(id)` predicate
    * (`smallRelationBytes = 0` forces the scale path the fixture's
    * size would otherwise gate away, exactly like the DocStreamSpec
    * prune pins). Self-cross emits both directions; `id_a < id_b`
    * keeps each unordered pair once, which is q23's exact O(n²)
    * Jaccard oracle — hash-green certifies the pushdown fetch returns
    * bit-identical pairs to the lazy semi-join plan. */
  def q202SigFetchDedup(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("q202_sigs").toString
    try {
      Dedup.writeSignatures(
        Dedup.nearDupSignatures(t(s, dir, "documents"), "doc_id", "text"),
        tmp)
      val pairs = Dedup.crossNearDupPairsVsSignaturesFetched(
        t(s, dir, "documents"), "doc_id", "text",
        s.read.parquet(tmp), threshold = 0.9, smallRelationBytes = 0L)
      // the finally below deletes the store, so only the LOCALIZED
      // result (the contract under MaxLocalPairs) may leave this scope
      // — if fixture growth ever pushes past the bound, the call
      // returns the DISTRIBUTED verify plan, whose later execution
      // would read the deleted directory; fail fast here instead
      require(pairs.queryExecution.logical.collectLeaves().forall(
        _.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        "q202 needs a localized fetch result: its signature store is " +
          "deleted before the plan runs")
      pairs.filter(col("id_a") < col("id_b"))
        .orderBy("id_a", "id_b")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** INDEXED-FACE SIGNATURE DEDUP ([[graft.dedup.BandIndex]] +
    * [[graft.dedup.Dedup.crossNearDupPairsVsSignaturesIndexed]]): the
    * ingest stream's steady-state CANDIDATE shape — the stored banded
    * face answered by the executor-resident point-lookup index
    * instead of a scan (built here every run, as the fold-epoch build
    * would be), fresh face absent, exact-verify unchanged. Scale path
    * FORCED (`smallRelationBytes = 0`); q23's exact O(n²) Jaccard
    * oracle — hash-green certifies the index returns bit-identical
    * pairs to the scan plans it replaces. */
  def q204SigIndexDedup(s: SparkSession, dir: String): DataFrame = {
    val sigs = Dedup.nearDupSignatures(
      t(s, dir, "documents"), "doc_id", "text")
    val idx = graft.dedup.BandIndex.build(sigs)
    try {
      val pairs = Dedup.crossNearDupPairsVsSignaturesIndexed(
        t(s, dir, "documents"), "doc_id", "text", sigs, idx, None,
        threshold = 0.9, smallRelationBytes = 0L)
      // the finally below unpersists the index the distributed
      // fallback plan would still probe — only the localized result
      // (the contract under MaxLocalPairs) may leave this scope
      require(pairs.queryExecution.logical.collectLeaves().forall(
        _.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        "q204 needs a localized result: its band index is unpersisted " +
          "before the plan runs")
      pairs.filter(col("id_a") < col("id_b"))
        .orderBy("id_a", "id_b")
    } finally idx.unpersist()
  }

  /** THE MONDRIAN SERVING SURFACE IN ONE PASS (E2+E3+E4,
    * `Schema_Trabajo_Final.xml:56-91`): both cubes (fact_inmigrante /
    * fact_emigrante as the always-grouped `fact` tag), every
    * drill-down prefix of every hierarchy — Fecha Anio>Mes>Dia
    * (xml:6-11), Frontera Provincia>Canton>Jefatura (xml:18-23),
    * Transporte Via (xml:30), Persona's two hierarchies Nacionalidad
    * and Sexo (xml:35-46), Ocupacion (xml:52) — plus the hasAll grand
    * total, with BOTH measures (count + avg edad, xml:69-71,87-89), as
    * ONE GROUPING SETS aggregate keyed by grouping_id
    * ([[graft.olap.Cube.memberSets]]). Mondrian answers each MDX drill
    * with its own generated SQL (one scan + shuffle per slice); this
    * face materializes the entire member space of both cubes in one
    * scan + one partial/final aggregate. The warehouse build and star
    * join are q36's; the oracle replays the same semantics on natural
    * keys, so the surrogate machinery must cancel out exactly. */
  /** The star-joined two-cube fact relation q203/q207 serve from, and
    * its drill hierarchies/levels (Schema_Trabajo_Final.xml:2-91). */
  private def q203Wide(s: SparkSession, dir: String): DataFrame = {
    import graft.etl.EsiEtl
    val wh = EsiEtl.buildWarehouse(EsiEtl.clean(q36Raw(s, dir)))
    val facts = wh.factInmigrante.withColumn("fact", lit("inmigrante"))
      .unionByName(wh.factEmigrante.withColumn("fact", lit("emigrante")))
    EsiEtl.dimSpecs.foldLeft(facts) { case (acc, (name, _, id)) =>
      acc.join(broadcast(wh.dims(name)), Seq(id))
    }
  }

  private val q203Levels = Seq("anio_movi", "mes_movi", "dia_movi",
    "pro_jefm", "can_jefm", "jef_migr", "via_tran", "nac_migr",
    "sex_migr", "ocu_migr")

  private val q203Hierarchies = Seq(
    Cube.Hierarchy("fecha", Seq("anio_movi", "mes_movi", "dia_movi")),
    Cube.Hierarchy("frontera", Seq("pro_jefm", "can_jefm", "jef_migr")),
    Cube.Hierarchy("transporte", Seq("via_tran")),
    Cube.Hierarchy("nacionalidad", Seq("nac_migr")),
    Cube.Hierarchy("sexo", Seq("sex_migr")),
    Cube.Hierarchy("ocupacion", Seq("ocu_migr")))

  /** The movement count and mean age every q203 face serves. */
  private def q203Measures: Seq[Column] = Seq(
    count(col("id_persona")).as("cantidad_movimientos"),
    round(dmean(col("edad")), 6).as("promedio_edades"))

  /** The q203 cube over `measures`; each read builds the fact. */
  private def q203Cube(s: SparkSession, dir: String,
      measures: Seq[Column] = q203Measures): graft.olap.CubeQuery.CubeRef =
    graft.olap.CubeQuery.CubeRef(() => q203Wide(s, dir), measures = measures)

  /** The MDX catalog and schema that name the q203 cube `movimientos`. */
  private def q203Catalog(s: SparkSession, dir: String,
      measures: Seq[Column] = q203Measures)
      : Map[String, graft.olap.CubeQuery.CubeRef] =
    Map("movimientos" -> q203Cube(s, dir, measures))

  private val q203Schema = Map("movimientos" -> q203Hierarchies)

  private def q203Order(df: DataFrame): DataFrame =
    df.orderBy(col("gid") +: (col("fact") +:
      q203Levels.map(c => col(c).asc_nulls_first)): _*)

  def q203CubeServe(s: SparkSession, dir: String): DataFrame =
    // declared through the CubeQuery front door (r15): lowers to the
    // same Cube.memberSets one-pass GROUPING SETS plan (identical
    // call by construction); the unchanged oracle hash certifies
    // result identity through the declarative layer
    q203Order(graft.olap.CubeQuery.run(graft.olap.CubeQuery.Query(
      cube = q203Cube(s, dir),
      hierarchies = q203Hierarchies,
      always = Seq("fact"))))

  val q203Sql: String =
    """WITH raw AS (SELECT
      |  CASE WHEN o_orderstatus = 'O' THEN ' Entrada ' ELSE 'salida' END AS tip_movi,
      |  CAST(year(o_orderdate) AS INT) AS anio_movi,
      |  CAST(month(o_orderdate) AS INT) AS mes_movi,
      |  CAST(day(o_orderdate) AS INT) AS dia_movi,
      |  CASE WHEN o_orderkey % 2 = 0 THEN 'M' ELSE 'F' END AS sex_migr,
      |  o_orderpriority AS nac_migr,
      |  CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'aerea'
      |       WHEN o_orderpriority = '3-MEDIUM' THEN 'terrestre'
      |       ELSE 'maritima' END AS via_tran,
      |  'jef-' || CAST(o_custkey % 5 AS VARCHAR) AS jef_migr,
      |  'pro-' || CAST(o_custkey % 3 AS VARCHAR) AS pro_jefm,
      |  'can-' || CAST(o_custkey % 4 AS VARCHAR) AS can_jefm,
      |  CASE WHEN o_orderkey % 11 = 0 THEN 'Estudiante'
      |       WHEN o_orderkey % 11 = 1 THEN 'INGENIERO'
      |       ELSE 'viajero frecuente' END AS ocu_migr,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       ELSE CAST(o_custkey % 80 + 1 AS INT) END AS edad
      | FROM orders),
      |f AS (SELECT CASE WHEN lower(trim(tip_movi)) = 'entrada'
      |             THEN 'inmigrante' ELSE 'emigrante' END AS fact, * FROM raw)
      |SELECT fact, anio_movi, mes_movi, dia_movi, pro_jefm, can_jefm,
      | jef_migr, via_tran, nac_migr, sex_migr, ocu_migr,
      | CAST(512*GROUPING(anio_movi) + 256*GROUPING(mes_movi)
      |  + 128*GROUPING(dia_movi) + 64*GROUPING(pro_jefm)
      |  + 32*GROUPING(can_jefm) + 16*GROUPING(jef_migr)
      |  + 8*GROUPING(via_tran) + 4*GROUPING(nac_migr)
      |  + 2*GROUPING(sex_migr) + GROUPING(ocu_migr) AS BIGINT) AS gid,
      | count(*) AS cantidad_movimientos,
      | round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE) / count(edad), 6)
      |   AS promedio_edades
      |FROM f
      |GROUP BY GROUPING SETS ((fact),
      | (fact, anio_movi), (fact, anio_movi, mes_movi),
      | (fact, anio_movi, mes_movi, dia_movi),
      | (fact, pro_jefm), (fact, pro_jefm, can_jefm),
      | (fact, pro_jefm, can_jefm, jef_migr),
      | (fact, via_tran), (fact, nac_migr), (fact, sex_migr), (fact, ocu_migr))
      |ORDER BY gid, fact, anio_movi NULLS FIRST, mes_movi NULLS FIRST,
      | dia_movi NULLS FIRST, pro_jefm NULLS FIRST, can_jefm NULLS FIRST,
      | jef_migr NULLS FIRST, via_tran NULLS FIRST, nac_migr NULLS FIRST,
      | sex_migr NULLS FIRST, ocu_migr NULLS FIRST""".stripMargin

  /** MULTI-TOUCH ATTRIBUTION — the standard marketing-warehouse
    * analytic the surface lacked: every purchase credits the user's
    * clicks inside a 7-day lookback under three models at once —
    * first-touch, last-touch, linear — aggregated per channel
    * (derived from the JSON props). Shape: an equi join on user_id
    * with a range predicate (sort-merge, never a cartesian), then
    * per-conversion windows for ordinal position and touch count —
    * partitioned by conversion id, so no global window. Linear credit
    * is summed in integer MICRO-UNITS (floor(value·10⁶/n)) so the
    * cross-engine sum is exact — the one per-row division happens in
    * identical IEEE doubles on both engines. */
  /** q205's join phase — (conversion × in-lookback clicks) rows. Split
    * out so the STREAMING face (a stream-stream interval join with
    * watermarked state, [[graft.streaming.EventStream
    * .intervalJoinStreams]]) can be parity-checked against exactly
    * this batch relation by the spec. */
  private[graft] def attributionClicks(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"),
        col("event_id").as("cid"),
        // a props row without '$.k' would otherwise yield a NULL
        // channel, and the final ORDER BY's null placement differs
        // across engines (Spark NULLS FIRST, DuckDB NULLS LAST) —
        // coalesce to a sentinel so the contract is engine-free.
        // MALFORMED (non-numeric) keys take the same sentinel: this
        // cast is Spark's non-ANSI (TRY_CAST-like) cast, and the
        // oracle SQL mirrors it with an explicit TRY_CAST
        coalesce(concat(lit("ch"),
          get_json_object(col("props"), "$.k").cast("long") % 3),
          lit("ch?")).as("channel"))

  private[graft] def attributionConversions(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"),
        col("event_id").as("pid"), col("value"))

  private[graft] def attributionPairs(ev: DataFrame): DataFrame =
    attributionConversions(ev).join(attributionClicks(ev), Seq("user_id"))
      .filter(col("cts") <= col("pts") &&
        col("cts") > col("pts") - expr("INTERVAL 7 DAYS"))

  /** q205's aggregate phase over [[attributionPairs]]-shaped rows
    * (`pid, value, cts, cid, channel`). */
  private[graft] def attributionAggregate(joined: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byConv = Window.partitionBy(col("pid"))
    val w = joined
      .withColumn("n", count(lit(1)).over(byConv))
      .withColumn("rf", row_number().over(
        byConv.orderBy(col("cts").asc, col("cid").asc)))
      .withColumn("rl", row_number().over(
        byConv.orderBy(col("cts").desc, col("cid").desc)))
    w.groupBy(col("channel"))
      .agg(count(lit(1)).as("touches"),
        round(dsum(when(col("rf") === 1, col("value")).otherwise(0.0))
          .cast("double"), 6).as("first_credit"),
        round(dsum(when(col("rl") === 1, col("value")).otherwise(0.0))
          .cast("double"), 6).as("last_credit"),
        round(sum(floor(col("value") * 1000000L / col("n")).cast("long"))
          .cast("double") / 1000000L, 6).as("linear_credit"))
      .orderBy("channel")
  }

  def q205Attribution(s: SparkSession, dir: String): DataFrame =
    attributionAggregate(attributionPairs(t(s, dir, "events")))

  val q205Sql: String =
    """WITH clicks AS (SELECT user_id, ts AS cts, event_id AS cid,
      |  coalesce('ch' || CAST(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 3
      |    AS VARCHAR), 'ch?') AS channel
      | FROM events WHERE event_type = 'click'),
      |conv AS (SELECT user_id, ts AS pts, event_id AS pid, value
      | FROM events WHERE event_type = 'purchase'),
      |j AS (SELECT c.pid, c.value, k.cts, k.cid, k.channel
      | FROM conv c JOIN clicks k USING (user_id)
      | WHERE k.cts <= c.pts AND k.cts > c.pts - INTERVAL 7 DAY),
      |w AS (SELECT *, count(*) OVER (PARTITION BY pid) AS n,
      |  row_number() OVER (PARTITION BY pid ORDER BY cts, cid) AS rf,
      |  row_number() OVER (PARTITION BY pid ORDER BY cts DESC, cid DESC) AS rl
      | FROM j)
      |SELECT channel, count(*) AS touches,
      | round(CAST(sum(CASE WHEN rf = 1 THEN CAST(value AS DECIMAL(18,2))
      |   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE), 6) AS first_credit,
      | round(CAST(sum(CASE WHEN rl = 1 THEN CAST(value AS DECIMAL(18,2))
      |   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE), 6) AS last_credit,
      | round(CAST(sum(CAST(floor(value * 1000000 / n) AS BIGINT)) AS DOUBLE)
      |   / 1000000, 6) AS linear_credit
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** WELCH A/B TEST — the experiment-readout aggregate: two groups
    * (deterministic user-id split), purchase value as the metric, one
    * pass computing n / mean / sample variance per arm and the Welch
    * t statistic with Welch–Satterthwaite degrees of freedom. All
    * sums run in integer CENTS (floor(value·100)) so the cross-engine
    * aggregates are exact; the t/df arithmetic then runs on identical
    * doubles. At 100 TB this is one partial/final hash aggregate —
    * the entire readout costs one scan. */
  def q206AbWelch(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "events").filter(col("event_type") === "purchase")
      .select((col("user_id") % 2 === 0).as("is_a"),
        floor(col("value") * 100).cast("long").as("c"))
    // squares accumulate in DECIMAL(38,0), not LONG: c*c alone
    // overflows a long at |value| ≳ 3e7, and the two engines diverge
    // there (Spark wraps, DuckDB raises) — decimal keeps the sums
    // exact to 1e38 on BOTH, the same dsum idiom every exact-grid
    // query uses; the t/df arithmetic divides once in double below.
    // Residual divergence PAST 1e38 total sum-of-squares: non-ANSI
    // Spark returns NULL silently while DuckDB raises — practically
    // unreachable (needs ~1e24 purchases at $10^7 each), and the
    // ss-non-null asserts below turn the silent NULL into a loud
    // failure if it ever happens
    val cd = col("c").cast("decimal(19,0)")
    val dz = lit(0).cast("decimal(38,0)")
    val agg = p.agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
      sum(when(col("is_a"), col("c")).otherwise(0L)).as("s_a"),
      sum(when(!col("is_a"), col("c")).otherwise(0L)).as("s_b"),
      sum(when(col("is_a"), cd * cd).otherwise(dz)).as("ss_a"),
      sum(when(!col("is_a"), cd * cd).otherwise(dz)).as("ss_b"))
    val mA = col("s_a").cast("double") / col("n_a") / 100.0
    val mB = col("s_b").cast("double") / col("n_b") / 100.0
    val vA = (col("ss_a").cast("double") -
      col("s_a").cast("double") * col("s_a") / col("n_a")) /
      (col("n_a") - 1) / 10000.0
    val vB = (col("ss_b").cast("double") -
      col("s_b").cast("double") * col("s_b") / col("n_b")) /
      (col("n_b") - 1) / 10000.0
    val se2 = vA / col("n_a") + vB / col("n_b")
    val df = se2 * se2 /
      (vA * vA / col("n_a") / col("n_a") / (col("n_a") - 1) +
        vB * vB / col("n_b") / col("n_b") / (col("n_b") - 1))
    // execution-level overflow trap: a NULL ss WITH rows present means
    // the decimal sum overflowed — fail loudly instead of propagating
    // NULL stats (adds +0.0 when healthy, so the oracle hash is
    // untouched). An EMPTY input (no purchase rows at all) legitimately
    // yields the all-NULL stats row on both engines — n_a/n_b are then
    // NULL too, and the trap must not fire on it
    val ssOk = coalesce(
      assert_true(col("n_a").isNull ||
        (col("ss_a").isNotNull && col("ss_b").isNotNull),
        lit("q206: sum-of-squares overflowed DECIMAL(38,0)"))
        .cast("double"),
      lit(0.0))
    agg.select(col("n_a"), col("n_b"),
      round(mA, 6).as("mean_a"), round(mB, 6).as("mean_b"),
      round((mA - mB) / sqrt(se2), 6).as("t_stat"),
      round(df + ssOk, 6).as("welch_df"))
  }

  val q206Sql: String =
    """WITH p AS (SELECT user_id % 2 = 0 AS is_a,
      |  CAST(floor(value * 100) AS BIGINT) AS c
      | FROM events WHERE event_type = 'purchase'),
      |a AS (SELECT
      |  sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS n_a,
      |  sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS n_b,
      |  sum(CASE WHEN is_a THEN c ELSE 0 END) AS s_a,
      |  sum(CASE WHEN NOT is_a THEN c ELSE 0 END) AS s_b,
      |  sum(CASE WHEN is_a THEN CAST(c AS DECIMAL(19,0)) * c
      |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss_a,
      |  sum(CASE WHEN NOT is_a THEN CAST(c AS DECIMAL(19,0)) * c
      |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss_b
      | FROM p),
      |m AS (SELECT n_a, n_b,
      |  CAST(s_a AS DOUBLE) / n_a / 100.0 AS m_a,
      |  CAST(s_b AS DOUBLE) / n_b / 100.0 AS m_b,
      |  (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * s_a / n_a)
      |    / (n_a - 1) / 10000.0 AS v_a,
      |  (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * s_b / n_b)
      |    / (n_b - 1) / 10000.0 AS v_b
      | FROM a)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      | round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
      | round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 6) AS t_stat,
      | round((v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b)
      |  / (v_a * v_a / n_a / n_a / (n_a - 1)
      |   + v_b * v_b / n_b / n_b / (n_b - 1)), 6) AS welch_df
      |FROM m""".stripMargin

  /** INCREMENTAL CUBE-SERVE MAINTENANCE — q203's whole member space
    * kept fresh the q82 way instead of rescanned: the fact relation
    * splits into a BASE (historical years — the partials a served
    * cube would have materialized) and a DELTA (the arriving append),
    * each contributes member-keyed MERGEABLE partials (count, decimal
    * age sum, age count) from its own grouping-sets pass, and
    * [[graft.olap.Cube.mergeMemberSets]] re-groups them on the member
    * identity (level columns + gid, so rolled-up NULLs never collide
    * with data NULLs). The avg measure re-derives at the read edge
    * from the merged exact sums. Per append this touches O(batch +
    * member space) — at a 100 TB cube the fact table is never
    * rescanned. The oracle is the FULL q203 recompute over everything
    * (base ∪ delta = the whole fact table), so hash-green certifies
    * the merge's VALUES member-for-member, not just its shape. */
  def q207CubeIncr(s: SparkSession, dir: String): DataFrame = {
    // stage the star-joined fact once (the q214 idiom): the base and
    // delta partials would otherwise EACH re-execute the whole
    // warehouse-build lineage, double-paying the ETL this face exists
    // to show is never re-paid
    val root = java.nio.file.Files.createTempDirectory("q207_wide").toString
    try {
    q203Wide(s, dir).write.parquet(s"$root/fact")
    val wide = s.read.parquet(s"$root/fact")
    val cut = 1997
    def partials(df: DataFrame) = Cube.memberSets(df, q203Hierarchies,
      Seq(count(col("id_persona")).as("cnt"),
        sum(col("edad").cast(dec2)).as("s_edad"),
        count(col("edad")).as("n_edad")),
      always = Seq("fact"))
    val merged = Cube.mergeMemberSets(
      Seq(partials(wide.filter(col("anio_movi") < cut)),
        partials(wide.filter(col("anio_movi") >= cut))),
      "fact" +: q203Levels,
      Seq(sum(col("cnt")).as("cantidad_movimientos"),
        sum(col("s_edad")).as("s_edad"),
        sum(col("n_edad")).as("n_edad")))
    q203Order(localized(merged.select(
      (col("fact") +: q203Levels.map(col)) ++ Seq(col("gid"),
        col("cantidad_movimientos"),
        // cast-then-divide mirrors the oracle's CAST(sum AS DOUBLE) /
        // count exactly; the merged decimal sums are exact, so the one
        // double division runs on bit-identical operands
        round(col("s_edad").cast("double") / col("n_edad"), 6)
          .as("promedio_edades")): _*)))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  val q207Sql: String = q203Sql

  /** PERIODIC-SNAPSHOT FACT (Kimball's third fact-table type — the
    * warehouse staple the surface lacked): end-of-period balance per
    * customer on a monthly 1995 grid, where the balance is the
    * cumulative order total AS OF each period end. Shape: one daily
    * pre-aggregate (shuffle on (cust, day)), one cumulative window per
    * customer, then the grid rows FORWARD-FILL from the last
    * observation via a union + last(ignoreNulls) window — an as-of
    * join per period computed in ONE shuffle on the customer key, no
    * per-period join, no grid × observation blowup (the q69 LOCF
    * idiom). Customers with no orders yet snapshot to 0. The oracle is
    * DuckDB's native ASOF LEFT JOIN per grid row — an independent
    * engine's as-of semantics certifying the fill. Balances stay
    * DECIMAL-exact through the cumulative sum; the one double cast
    * happens at the output edge. */
  /** The DECIMAL-exact snapshot relation q208/q212 share:
    * `(custkey, period_end, bal)` — every customer × every monthly
    * 1995 period end, balance = cumulative order total as of that
    * date (0 for not-yet-active customers). One union + one
    * last(ignoreNulls) window per customer — see q208's scaladoc. */
  private def snapshotBalances(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("custkey"),
        col("o_orderdate").as("d"))
      .agg(sum(col("o_totalprice").cast(dec2)).as("damt"))
    val cum = daily.withColumn("bal",
      sum(col("damt")).over(
        Window.partitionBy(col("custkey")).orderBy(col("d")))
        .cast("decimal(38,2)"))
    // the snapshot dates are the months' LAST days (last_day of each
    // month start — stepping the sequence by month from a month END
    // would clamp differently across engines): a period_end row
    // includes the whole month's activity, the Kimball periodic-
    // snapshot contract
    val grid = t(s, dir, "customer")
      .select(col("c_custkey").as("custkey"),
        explode(sequence(lit("1995-01-01").cast("date"),
          lit("1995-12-01").cast("date"),
          expr("INTERVAL 1 MONTH"))).as("pe0"))
      .select(col("custkey"), last_day(col("pe0")).as("pe"))
    // union + ffill: order rows sort before the grid row on the same
    // date (__g 0 < 1), so a same-day order is included — ASOF <=
    val unioned = cum
      .select(col("custkey"), col("d"), col("bal"), lit(0).as("__g"),
        lit(null).cast("date").as("pe"))
      .unionByName(grid.select(col("custkey"), col("pe").as("d"),
        lit(null).cast("decimal(38,2)").as("bal"), lit(1).as("__g"),
        col("pe")))
    val fill = Window.partitionBy(col("custkey"))
      .orderBy(col("d").asc, col("__g").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("filled", last(col("bal"), ignoreNulls = true).over(fill))
      .filter(col("__g") === 1)
      .select(col("custkey"), col("pe").as("period_end"),
        coalesce(col("filled"), lit(0).cast("decimal(38,2)")).as("bal"))
  }

  def q208SnapshotGrid(s: SparkSession, dir: String): DataFrame =
    snapshotBalances(s, dir)
      .select(col("custkey"), col("period_end"),
        round(col("bal").cast("double"), 6).as("balance"))
      .orderBy("custkey", "period_end")

  val q208Sql: String =
    """WITH daily AS (SELECT o_custkey AS custkey, o_orderdate AS d,
      |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS damt
      | FROM orders GROUP BY 1, 2),
      |cum AS (SELECT custkey, d,
      |  sum(damt) OVER (PARTITION BY custkey ORDER BY d) AS bal
      | FROM daily),
      |grid AS (SELECT c_custkey AS custkey,
      |  last_day(CAST(unnest(generate_series(DATE '1995-01-01',
      |    DATE '1995-12-01', INTERVAL 1 MONTH)) AS DATE)) AS pe
      | FROM customer)
      |SELECT g.custkey, g.pe AS period_end,
      | round(CAST(coalesce(b.bal, 0) AS DOUBLE), 6) AS balance
      |FROM grid g ASOF LEFT JOIN cum b
      |  ON g.custkey = b.custkey AND b.d <= g.pe
      |ORDER BY 1, 2""".stripMargin

  /** TOP-K PER CUBE MEMBER — the drill Mondrian cannot express in one
    * generated SQL: for EVERY member of the cube's member space (each
    * status, each priority, and the grand total) the top-3 customers
    * by exact decimal spend. One grouping-sets pass builds the
    * per-member-per-customer totals (map-side partials collapse to
    * member × customer cardinality), then [[graft.functions
    * .BoundedTopKAgg]] holds AT MOST k rows per member buffer at every
    * stage — no window sort over the member's full customer list, the
    * per-group OOM at 100 TB skew. Ordering rides the EXACT decimal
    * (desc, custkey tiebreak), so the cut is engine-stable; the one
    * double cast happens at the output edge. */
  def q209CubeTopK(s: SparkSession, dir: String): DataFrame = {
    val per = Cube.memberSets(t(s, dir, "orders"),
      Seq(Cube.Hierarchy("status", Seq("o_orderstatus")),
        Cube.Hierarchy("prio", Seq("o_orderpriority"))),
      Seq(sum(col("o_totalprice").cast(dec2)).as("spend")),
      always = Seq("o_custkey"))
    per.groupBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))
      .agg(graft.functions.bounded_topk(
        struct(negate(col("spend")).as("__ns"),
          col("o_custkey").as("custkey"),
          col("spend").as("spend")), 3).as("__top"))
      .select(col("gid"), col("o_orderstatus"), col("o_orderpriority"),
        posexplode(col("__top")))
      .select(col("gid"), col("o_orderstatus"), col("o_orderpriority"),
        (col("pos") + 1).cast("long").as("rn"),
        col("col.custkey").as("custkey"),
        round(col("col.spend").cast("double"), 6).as("spend"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first, col("rn"))
  }

  val q209Sql: String =
    """WITH per AS (SELECT o_custkey AS custkey, o_orderstatus,
      |  o_orderpriority,
      |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend,
      |  CAST(2*GROUPING(o_orderstatus) + GROUPING(o_orderpriority)
      |    AS BIGINT) AS gid
      | FROM orders
      | GROUP BY GROUPING SETS ((o_custkey), (o_custkey, o_orderstatus),
      |  (o_custkey, o_orderpriority))),
      |r AS (SELECT *, row_number() OVER (
      |  PARTITION BY gid, o_orderstatus, o_orderpriority
      |  ORDER BY spend DESC, custkey) AS rn FROM per)
      |SELECT gid, o_orderstatus, o_orderpriority, CAST(rn AS BIGINT) AS rn,
      | custkey, round(CAST(spend AS DOUBLE), 6) AS spend
      |FROM r WHERE rn <= 3
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST,
      | rn""".stripMargin

  /** ACCUMULATING-SNAPSHOT FACT — the third Kimball fact-table type,
    * completing the set (transaction = q36, periodic snapshot = q208):
    * each order accretes milestone timestamps as its lifecycle
    * progresses (placed → first line shipped → last line shipped),
    * and the report reads lag-between-milestone averages per order
    * month. Shape: one grouped min/max over the line items (the
    * milestone accretion — at 100 TB this is the incremental MERGE a
    * real pipeline runs per arriving batch, here expressed as the
    * full-history aggregate the oracle can replay), one key join, one
    * month aggregate. Lags sum as exact integer day counts; the one
    * division runs in double at the edge. */
  def q210AccumSnapshot(s: SparkSession, dir: String): DataFrame = {
    val ms = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"))
    val acc = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
      .join(ms, Seq("o_orderkey"), "left")
    acc
      .groupBy(year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n_orders"),
        count(col("first_ship")).as("n_shipped"),
        round(sum(datediff(col("first_ship"), col("o_orderdate")))
          .cast("double") / count(col("first_ship")), 6)
          .as("avg_order_to_ship"),
        round(sum(datediff(col("last_ship"), col("first_ship")))
          .cast("double") / count(col("first_ship")), 6)
          .as("avg_ship_span"))
      .orderBy("y", "m")
  }

  val q210Sql: String =
    """WITH ms AS (SELECT l_orderkey AS o_orderkey,
      |  min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
      | FROM lineitem GROUP BY 1),
      |acc AS (SELECT o.o_orderdate, m.first_ship, m.last_ship
      | FROM orders o LEFT JOIN ms m USING (o_orderkey))
      |SELECT CAST(year(o_orderdate) AS INT) AS y,
      | CAST(month(o_orderdate) AS INT) AS m,
      | count(*) AS n_orders, count(first_ship) AS n_shipped,
      | round(CAST(sum(date_diff('day', o_orderdate, first_ship)) AS DOUBLE)
      |   / count(first_ship), 6) AS avg_order_to_ship,
      | round(CAST(sum(date_diff('day', first_ship, last_ship)) AS DOUBLE)
      |   / count(first_ship), 6) AS avg_ship_span
      |FROM acc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** TIME-DECAY ATTRIBUTION — the fourth model over q205's join phase
    * ([[attributionPairs]]): each click's credit halves per whole day
    * of age at conversion (7-day lookback ⇒ ages 0–6, weights 1 …
    * 1/64). Engine-exact: age is an integer micros division, the
    * per-row credit is floor(value·10⁶ / 2^age) — multiplying and
    * dividing a double by small powers of two is EXACT IEEE, so both
    * engines floor the identical value — and credits sum as integer
    * micro-units. Same join/aggregate scale shape as q205: sort-merge
    * range join, one hash aggregate, no windows at all (decay needs
    * no per-conversion ordinals). */
  def q211TimeDecay(s: SparkSession, dir: String): DataFrame = {
    // second-floored epochs (the engine's NTZ-safe idiom — q31/q105
    // pair unix_timestamp with DuckDB's floor(epoch())); the floor is
    // identical on both engines, so the day bucket is too
    val age = expr(
      "(unix_timestamp(pts) - unix_timestamp(cts)) div 86400")
    attributionPairs(t(s, dir, "events"))
      .select(col("channel"),
        floor(col("value") * 1000000L / pow(lit(2.0), age.cast("double")))
          .cast("long").as("credit_u"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("touches"),
        round(sum(col("credit_u")).cast("double") / 1000000L, 6)
          .as("decayed_credit"))
      .orderBy("channel")
  }

  val q211Sql: String =
    """WITH clicks AS (SELECT user_id, ts AS cts, event_id AS cid,
      |  coalesce('ch' || CAST(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 3
      |    AS VARCHAR), 'ch?') AS channel
      | FROM events WHERE event_type = 'click'),
      |conv AS (SELECT user_id, ts AS pts, event_id AS pid, value
      | FROM events WHERE event_type = 'purchase'),
      |j AS (SELECT k.channel, c.value, c.pts, k.cts
      | FROM conv c JOIN clicks k USING (user_id)
      | WHERE k.cts <= c.pts AND k.cts > c.pts - INTERVAL 7 DAY),
      |d AS (SELECT channel,
      |  CAST(floor(value * 1000000 / power(2,
      |    CAST((CAST(floor(epoch(pts)) AS BIGINT)
      |      - CAST(floor(epoch(cts)) AS BIGINT)) // 86400 AS DOUBLE)))
      |    AS BIGINT) AS credit_u
      | FROM j)
      |SELECT channel, count(*) AS touches,
      | round(CAST(sum(credit_u) AS DOUBLE) / 1000000, 6) AS decayed_credit
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** SEMI-ADDITIVE MEASURE AGGREGATION — the read pattern periodic
    * snapshots exist for, and the one naive SUM gets WRONG: a balance
    * adds across customers but NOT across time (summing a customer's
    * twelve month-end balances twelve-counts their money). Per
    * segment: SUM balances within each period (the additive
    * dimension), then AVG/MIN/MAX across the periods (the
    * semi-additive one). Rides [[snapshotBalances]]' exact decimal
    * grid; the only division (the across-periods mean) runs once in
    * double at the edge. Scale shape: the q208 machinery + one
    * broadcast-dim join + two member-sized aggregates. */
  def q212SemiAdditive(s: SparkSession, dir: String): DataFrame = {
    val seg = snapshotBalances(s, dir)
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"),
          col("c_mktsegment").as("segment"))), Seq("custkey"))
      .groupBy(col("segment"), col("period_end"))
      .agg(sum(col("bal")).as("seg_bal"))
    seg.groupBy(col("segment"))
      .agg(
        round(sum(col("seg_bal")).cast("double") / count(lit(1)), 6)
          .as("avg_period_balance"),
        round(min(col("seg_bal")).cast("double"), 6)
          .as("min_period_balance"),
        round(max(col("seg_bal")).cast("double"), 6)
          .as("max_period_balance"))
      .orderBy("segment")
  }

  val q212Sql: String =
    """WITH daily AS (SELECT o_custkey AS custkey, o_orderdate AS d,
      |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS damt
      | FROM orders GROUP BY 1, 2),
      |cum AS (SELECT custkey, d,
      |  sum(damt) OVER (PARTITION BY custkey ORDER BY d) AS bal
      | FROM daily),
      |grid AS (SELECT c_custkey AS custkey,
      |  last_day(CAST(unnest(generate_series(DATE '1995-01-01',
      |    DATE '1995-12-01', INTERVAL 1 MONTH)) AS DATE)) AS pe
      | FROM customer),
      |snap AS (SELECT g.custkey, g.pe, coalesce(b.bal, 0) AS bal
      | FROM grid g ASOF LEFT JOIN cum b
      |   ON g.custkey = b.custkey AND b.d <= g.pe),
      |seg AS (SELECT c.c_mktsegment AS segment, s.pe,
      |  sum(s.bal) AS seg_bal
      | FROM snap s JOIN customer c ON s.custkey = c.c_custkey
      | GROUP BY 1, 2)
      |SELECT segment,
      | round(CAST(sum(seg_bal) AS DOUBLE) / count(*), 6) AS avg_period_balance,
      | round(CAST(min(seg_bal) AS DOUBLE), 6) AS min_period_balance,
      | round(CAST(max(seg_bal) AS DOUBLE), 6) AS max_period_balance
      |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin

  /** WEIGHTED BRIDGE-TABLE ALLOCATION — Kimball's many-to-many
    * pattern: an order-grain fact (o_totalprice) allocated across the
    * BRANDS its lines touch, weight = the brand's share of the
    * order's line count, so per-order credit conserves (up to the
    * deliberate floor). Engine-exact: credit is
    * floor(cents · n_brand_lines · 10⁴ / n_order_lines) — pure BIGINT
    * arithmetic (≤ 6e7 cents × 7 × 10⁴ ≈ 4e12, no overflow), integer
    * division identical on both engines — summed as integer
    * 10⁻⁶-dollar units. Scale shape: two hash aggregates and two
    * equi-joins keyed on (order, brand) / order — no windows, and the
    * bridge (order × brand counts) is exactly the allocation a real
    * warehouse would materialize once per load. */
  def q213BridgeAlloc(s: SparkSession, dir: String): DataFrame = {
    val lines = t(s, dir, "lineitem")
      .join(t(s, dir, "part").select(col("p_partkey").as("l_partkey"),
        col("p_brand")), Seq("l_partkey"))
      .select(col("l_orderkey"), col("p_brand"))
    val perBrand = lines.groupBy(col("l_orderkey"), col("p_brand"))
      .agg(count(lit(1)).as("n_brand"))
    // r17 (guide §7.2/§2.4): the order's line total is the sum of its
    // per-brand counts, so deriving n_order as a window over perBrand
    // replaces BOTH the second lineitem⋈part subtree (the plan used to
    // aggregate `lines` twice) and the perBrand⋈perOrder join — one
    // fact scan and one join fewer, values identical.
    val withOrder = perBrand.withColumn("n_order",
      sum(col("n_brand")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey"))))
    val alloc = withOrder
      .join(t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
        col("o_totalprice")), Seq("l_orderkey"))
      .select(col("p_brand"),
        // cents via DECIMAL: double×100 truncates differently across
        // engines (Spark cast truncates, DuckDB rounds) — the decimal
        // hop makes the integer exact before any cast
        expr("(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)" +
          " * n_brand * 10000) div n_order").cast("long").as("credit_u"))
    alloc.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_order_brands"),
        round(sum(col("credit_u")).cast("double") / 1000000L, 6)
          .as("alloc_revenue"))
      .orderBy("p_brand")
  }

  val q213Sql: String =
    """WITH lines AS (SELECT l.l_orderkey, p.p_brand
      | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |per_brand AS (SELECT l_orderkey, p_brand, count(*) AS n_brand
      | FROM lines GROUP BY 1, 2),
      |per_order AS (SELECT l_orderkey, count(*) AS n_order
      | FROM lines GROUP BY 1),
      |alloc AS (SELECT b.p_brand,
      |  CAST(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    * b.n_brand * 10000 // p.n_order AS BIGINT) AS credit_u
      | FROM per_brand b JOIN per_order p USING (l_orderkey)
      | JOIN orders o ON b.l_orderkey = o.o_orderkey)
      |SELECT p_brand, count(*) AS n_order_brands,
      | round(CAST(sum(credit_u) AS DOUBLE) / 1000000, 6) AS alloc_revenue
      |FROM alloc GROUP BY 1 ORDER BY 1""".stripMargin

  /** AGGREGATE NAVIGATION — the serving-layer feature Mondrian ships
    * as "aggregate tables" over the reference's cubes
    * (`Schema_Trabajo_Final.xml:2-91`): pre-aggregated rollups are
    * registered offline and each drill is silently rewritten to the
    * SMALLEST one that covers it ([[graft.olap.AggNavigator]]). Here
    * three rollups of the two-cube star fact are registered (date-leaf,
    * date-month, traveller-profile grains), then five drills route
    * through the navigator: four land on a pre-aggregate — at serving
    * time the fact lineage is never even constructed, the plan reads a
    * dim-sized parquet (AggNavigatorSpec asserts this at plan level) —
    * and one (provincia, a column no rollup carries) falls back to the
    * fact table. Measures ride mergeable partials (counts add; sums
    * stay exact DECIMAL at rest; an average re-derives with one double
    * division on bit-identical operands), so every routed answer is
    * bit-identical to the direct aggregate — which is exactly what the
    * oracle recomputes slice by slice. At 100 TB this is the
    * difference between a dashboard drill that scans the corpus and
    * one that scans a few thousand rows. */
  private[graft] val q214Grains: Seq[(String, Seq[String])] = Seq(
    "fecha_dia" -> Seq("fact", "anio_movi", "mes_movi", "dia_movi"),
    "fecha_mes" -> Seq("fact", "anio_movi", "mes_movi"),
    "perfil" -> Seq("fact", "via_tran", "nac_migr", "sex_migr"))

  private[graft] val q214Measures: Seq[AggNavigator.Measure] = Seq(
    AggNavigator.CountAll("cantidad_movimientos"),
    AggNavigator.ExactAvg("promedio_edades", "edad"))

  private[graft] val q214Slices: Seq[(String, Seq[String])] = Seq(
    "s1_anio" -> Seq("fact", "anio_movi"),
    "s2_dia" -> Seq("fact", "anio_movi", "mes_movi", "dia_movi"),
    "s3_via" -> Seq("fact", "via_tran"),
    "s4_sexnac" -> Seq("fact", "sex_migr", "nac_migr"),
    "s5_pro" -> Seq("fact", "pro_jefm"))

  /** Collect a SMALL (member/dim-cardinality) result into a
    * LocalRelation so the scratch directories backing its lineage can
    * be deleted before the caller executes the plan — the q202
    * delete-before-execute contract, reused by the agg-table faces
    * whose registries live under a per-run temp root. */
  private def localized(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  def q214AggNav(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("q214_aggs").toString
    try {
      // stage the star-joined fact ONCE (in production it IS a stored
      // table): registration's per-grain scans and the uncovered drill
      // then read parquet instead of re-running the warehouse build —
      // one ETL execution total instead of one per grain
      val staged = s"$root/fact"
      q203Wide(s, dir).write.parquet(staged)
      def fact = s.read.parquet(staged)
      // offline build: ONE shared GROUPING SETS fact scan for all
      // three grains (registerShared), dim-sized parquet outputs
      val reg = AggNavigator.registerShared(fact, q214Grains, q214Measures, root)
      val slices = q214Slices.map { case (tag, groupCols) =>
        AggNavigator.navigate(reg, fact, groupCols)
          .select(lit(tag).as("slice"),
            concat_ws("|", groupCols.map(c => col(c).cast("string")): _*)
              .as("member"),
            col("cantidad_movimientos"), col("promedio_edades"))
      }
      localized(slices.reduce(_.unionByName(_))).orderBy("slice", "member")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  val q214Sql: String = {
    val pre =
      """WITH raw AS (SELECT
        |  CASE WHEN o_orderstatus = 'O' THEN ' Entrada ' ELSE 'salida' END AS tip_movi,
        |  CAST(year(o_orderdate) AS INT) AS anio_movi,
        |  CAST(month(o_orderdate) AS INT) AS mes_movi,
        |  CAST(day(o_orderdate) AS INT) AS dia_movi,
        |  CASE WHEN o_orderkey % 2 = 0 THEN 'M' ELSE 'F' END AS sex_migr,
        |  o_orderpriority AS nac_migr,
        |  CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'aerea'
        |       WHEN o_orderpriority = '3-MEDIUM' THEN 'terrestre'
        |       ELSE 'maritima' END AS via_tran,
        |  'pro-' || CAST(o_custkey % 3 AS VARCHAR) AS pro_jefm,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |       ELSE CAST(o_custkey % 80 + 1 AS INT) END AS edad
        | FROM orders),
        |f AS (SELECT CASE WHEN lower(trim(tip_movi)) = 'entrada'
        |             THEN 'inmigrante' ELSE 'emigrante' END AS fact, * FROM raw)
        |""".stripMargin
    def slice(tag: String, cols: Seq[String]) = {
      val member = cols.map(c => s"CAST($c AS VARCHAR)").mkString(", ")
      s"""SELECT '$tag' AS slice, concat_ws('|', $member) AS member,
         | count(*) AS cantidad_movimientos,
         | round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE) / count(edad), 6)
         |   AS promedio_edades
         |FROM f GROUP BY ${cols.mkString(", ")}""".stripMargin
    }
    pre + q214Slices.map { case (t, c) => slice(t, c) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY slice, member")
  }

  /** DIM-UPDATE VIEW REFRESH — the backfill staple: a materialized
    * denormalized view (orders ⋈ customer) laid out by a 16-way bucket
    * of the dim key; an SCD1 segment overwrite for ~1% of customers
    * (custkey % 97 = 0) maps to its affected buckets, and ONLY those
    * buckets are recomputed and published as a new snapshot generation
    * behind a manifest commit ([[graft.etl.ViewRefresh.refreshSnapshot]]).
    * Untouched buckets keep their generation dirs and files
    * (ViewRefreshSpec asserts it); the oracle is the full recompute
    * with the update applied — so the partition-scoped refresh must
    * land the view in exactly the all-rewrite state. Write
    * amplification is (affected buckets)/16 — ≈c/16 for c ≪ 16 changed
    * keys, degrading gracefully to a full rewrite for bulk deltas (the
    * fixture's ~15 random keys touch most buckets; the win case is the
    * small delivery — see the module doc's B·(1−(1−1/B)^c)
    * arithmetic). */
  def q215ViewRefresh(s: SparkSession, dir: String): DataFrame = {
    import graft.etl.ViewRefresh
    val root = java.nio.file.Files.createTempDirectory("q215_view").toString
    try {
      val path = s"$root/view"
      val n = 16
      val facts = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      def view(dim: DataFrame): DataFrame =
        facts.join(broadcast(dim), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_totalprice"), col("c_custkey"),
            col("c_mktsegment"))
      val dimV1 = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      ViewRefresh.materializeSnapshot(view(dimV1), col("c_custkey"), n, path)
      // the SCD1 delta: ~1% of customers change segment
      val dimV2 = dimV1.withColumn("c_mktsegment",
        when(col("c_custkey") % 97 === 0, lit("UPDATED"))
          .otherwise(col("c_mktsegment")))
      val changed = dimV1.filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey"))
      val buckets = ViewRefresh.affectedBuckets(changed, col("c_custkey"), n)
      ViewRefresh.refreshSnapshot(view(dimV2), col("c_custkey"), n, buckets,
        path)
      localized(ViewRefresh.readSnapshot(s, path)
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue")))
        .orderBy("segment")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  val q215Sql: String =
    """SELECT CASE WHEN c_custkey % 97 = 0 THEN 'UPDATED'
      |            ELSE c_mktsegment END AS segment,
      | count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** LATE-ARRIVING DIMENSION (Kimball inferred members) — facts load
    * against a dimension that is missing a third of its members
    * (custkey % 3 = 0 not yet delivered): the unseen keys become
    * INFERRED members (surrogate above max, segment 'UNKNOWN'), facts
    * key immediately; the real rows for HALF of them (even custkeys)
    * arrive later and SCD1-overwrite the placeholders in place —
    * surrogates stable, so the ALREADY-KEYED facts resolve the
    * corrected segments with zero fact rewrites
    * ([[graft.etl.LateDim]]). Output: order counts + exact revenue by
    * (inferred, segment); the odd multiples of 3 remain inferred
    * 'UNKNOWN' rows — exactly what the oracle's CASE arithmetic
    * derives per fact row. */
  def q216LateDim(s: SparkSession, dir: String): DataFrame = {
    import graft.etl.LateDim
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val facts = t(s, dir, "orders")
      .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
    val t1 = LateDim.init(cust.filter(col("c_custkey") % 3 =!= 0),
      Seq("c_custkey"), "sk")
    val d1 = LateDim.ensureMembers(t1, facts, Seq("c_custkey"), "sk",
      Map("c_mktsegment" -> lit("UNKNOWN")))
    // facts are keyed NOW, against the inferred-member dimension
    val keyed = SurrogateKeys.resolve(facts, d1, Seq("c_custkey"), "sk")
      .select(col("sk"), col("o_totalprice"))
    // ...and the real rows for the even missing members arrive later
    val late = cust.filter(col("c_custkey") % 3 === 0 &&
      col("c_custkey") % 2 === 0)
    val d2 = LateDim.scd1Arrive(d1, late, Seq("c_custkey"), "sk",
      Seq("c_mktsegment"))
    keyed.join(broadcast(d2.select(col("sk"), col("c_mktsegment"),
      col(LateDim.InferredCol))), Seq("sk"))
      .groupBy(col(LateDim.InferredCol), col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("revenue"))
      .orderBy(LateDim.InferredCol, "segment")
  }

  val q216Sql: String =
    """SELECT (o_custkey % 3 = 0 AND o_custkey % 2 = 1) AS inferred,
      | CASE WHEN o_custkey % 3 = 0 AND o_custkey % 2 = 1 THEN 'UNKNOWN'
      |      ELSE c_mktsegment END AS segment,
      | count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** INCREMENTAL AGGREGATE-TABLE REFRESH — the companion to q214 that
    * makes aggregate tables viable at all: the registry is built on
    * the pre-1997 base load, then the 1997+ append is absorbed by
    * [[graft.olap.AggNavigator.refresh]] in O(delta + table) — the
    * delta's partials collapse map-side to grain cardinality and FOLD
    * into the stored partials (counts/decimal sums add); the base
    * fact is NEVER rescanned, and each table republishes via atomic
    * rename-swap. Drills after the refresh route exactly as q214's
    * do; the oracle recomputes each slice over the FULL fact table,
    * so any drift in the fold (a lost row, a double-counted partial,
    * decimal precision decay) breaks the hash. */
  def q217AggRefresh(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("q217_aggs").toString
    try {
      val fact = t(s, dir, "orders").select(
        year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("prio"), col("o_totalprice"))
      val measures = Seq[AggNavigator.Measure](
        AggNavigator.CountAll("n_orders"),
        AggNavigator.ExactAvg("avg_price", "o_totalprice"),
        AggNavigator.ExactSum("revenue", "o_totalprice"))
      val grains = Seq("ym" -> Seq("y", "m"), "yearly" -> Seq("y"),
        "status_prio" -> Seq("status", "prio"))
      val reg0 = AggNavigator.registerShared(fact.filter(col("y") < 1997),
        grains, measures, root)
      val reg = AggNavigator.refresh(reg0, fact.filter(col("y") >= 1997))
      val slices = Seq(
        "s1_y" -> Seq("y"), "s2_ym" -> Seq("y", "m"),
        "s3_status" -> Seq("status"), "s4_prio" -> Seq("prio"),
        "s5_fallback" -> Seq("status", "y"))
      localized(slices.map { case (tag, groupCols) =>
        AggNavigator.navigate(reg, fact, groupCols)
          .select(lit(tag).as("slice"),
            concat_ws("|", groupCols.map(c => col(c).cast("string")): _*)
              .as("member"),
            col("n_orders"), col("avg_price"), col("revenue"))
      }.reduce(_.unionByName(_))).orderBy("slice", "member")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  val q217Sql: String = {
    val pre =
      """WITH f AS (SELECT CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  o_orderstatus AS status, o_orderpriority AS prio, o_totalprice
        | FROM orders)
        |""".stripMargin
    def slice(tag: String, cols: Seq[String]) = {
      val member = cols.map(c => s"CAST($c AS VARCHAR)").mkString(", ")
      s"""SELECT '$tag' AS slice, concat_ws('|', $member) AS member,
         | count(*) AS n_orders,
         | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |   / count(o_totalprice), 6) AS avg_price,
         | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |FROM f GROUP BY ${cols.mkString(", ")}""".stripMargin
    }
    val slices = Seq("s1_y" -> Seq("y"), "s2_ym" -> Seq("y", "m"),
      "s3_status" -> Seq("status"), "s4_prio" -> Seq("prio"),
      "s5_fallback" -> Seq("status", "y"))
    pre + slices.map { case (t, c) => slice(t, c) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY slice, member")
  }

  /** MEMBER SPACE SERVED THROUGH THE NAVIGATOR — q203's serving shape
    * composed with q214's aggregate tables, which is the actual
    * Mondrian-with-agg-tables path: a GROUPING SETS member space where
    * EACH set routes independently to its smallest covering rollup
    * ([[graft.olap.AggNavigator.navigateSets]]) — the grand total
    * reads a 15-row table, the date drills read the date rollups, and
    * one deliberately uncovered set ((y, status)) alone pays the fact
    * scan. The oracle is the plain `GROUP BY GROUPING SETS` aggregate
    * with hand-weighted GROUPING() bits, so the routed union must
    * reproduce the single-pass member space value-for-value, gid
    * included. At 100 TB the covered drills never touch the fact —
    * each is a dim-sized parquet read. */
  def q218NavSets(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("q218_aggs").toString
    try {
      val fact = t(s, dir, "orders").select(
        year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("prio"), col("o_totalprice"))
      val measures = Seq[AggNavigator.Measure](
        AggNavigator.CountAll("n_orders"),
        AggNavigator.ExactAvg("avg_price", "o_totalprice"),
        AggNavigator.ExactSum("revenue", "o_totalprice"))
      val reg = AggNavigator.registerShared(fact,
        Seq("ym" -> Seq("y", "m"), "yearly" -> Seq("y"),
          "status_prio" -> Seq("status", "prio")), measures, root)
      val levels = Seq("y", "m", "status", "prio")
      val sets = Seq(Seq.empty[String], Seq("y"), Seq("y", "m"),
        Seq("status"), Seq("status", "prio"), Seq("y", "status"))
      localized(AggNavigator.navigateSets(reg, fact, levels, sets))
        .orderBy(col("gid") +: levels.map(c => col(c).asc_nulls_first): _*)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  val q218Sql: String =
    """WITH f AS (SELECT CAST(year(o_orderdate) AS INT) AS y,
      |  CAST(month(o_orderdate) AS INT) AS m,
      |  o_orderstatus AS status, o_orderpriority AS prio, o_totalprice
      | FROM orders)
      |SELECT y, m, status, prio,
      | CAST(8*GROUPING(y) + 4*GROUPING(m) + 2*GROUPING(status)
      |   + GROUPING(prio) AS BIGINT) AS gid,
      | count(*) AS n_orders,
      | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |   / count(o_totalprice), 6) AS avg_price,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM f
      |GROUP BY GROUPING SETS ((), (y), (y, m), (status), (status, prio),
      | (y, status))
      |ORDER BY gid, y NULLS FIRST, m NULLS FIRST, status NULLS FIRST,
      | prio NULLS FIRST""".stripMargin

  /** CROSS-CUBE DRILL-ACROSS ([[graft.olap.DrillAcross]]) — the
    * reference's Mondrian schema declares TWO cubes over conformed
    * dimensions (`Schema_Trabajo_Final.xml:56-91`), and the question
    * that spans them (net flow at a shared grain) has no single-cube
    * answer. Here: customer-nation order revenue vs supplier-nation
    * shipped value at the conformed (nation, month) grain, with
    * DELIBERATELY OFFSET month windows (A: ≤8, B: ≥5) so the
    * conformed FULL OUTER merge must surface one-sided members with
    * NULL measures on the missing side — the semantics an inner merge
    * silently destroys. Each side collapses map-side to dim
    * cardinality before the only cross-fact operation, a join of two
    * grain-sized relations; fact rows never meet fact rows. Oracle:
    * DuckDB FULL JOIN of the two grouped facts. */
  def q219DrillAcross(s: SparkSession, dir: String): DataFrame = {
    val nation = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val factA = t(s, dir, "orders")
      .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), month(col("o_orderdate")).as("mo"),
        col("o_totalprice"))
      .filter(col("mo") <= 8)
    val factB = t(s, dir, "lineitem")
      .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), month(col("l_shipdate")).as("mo"),
        col("l_extendedprice"))
      .filter(col("mo") >= 5)
    // declared through the CubeQuery front door (r15): compiles to
    // exactly DrillAcross.drillAcross's per-fact aggregation +
    // conformed full-outer merge (identical API calls by
    // construction); the unchanged oracle hash certifies RESULT
    // identity through the declarative layer
    import graft.olap.CubeQuery
    CubeQuery.run(CubeQuery.Query(
      cube = CubeQuery.CubeRef(() => factA,
        measures = Seq(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sales"))),
      grain = Seq("n_name", "mo"),
      drillAcross = Seq(CubeQuery.CubeRef(() => factB,
        measures = Seq(count(lit(1)).as("n_ship"),
          dsum(col("l_extendedprice")).as("supply")))),
      derived = Seq((coalesce(col("sales"), lit(0.0)) -
        coalesce(col("supply"), lit(0.0))).as("net"))))
      .orderBy("n_name", "mo")
  }

  private val q219FactsSql: String =
    """fa AS (SELECT n_name, CAST(month(o_orderdate) AS INT) AS mo, o_totalprice
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE CAST(month(o_orderdate) AS INT) <= 8),
      |fb AS (SELECT n_name, CAST(month(l_shipdate) AS INT) AS mo, l_extendedprice
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE CAST(month(l_shipdate) AS INT) >= 5)""".stripMargin

  val q219Sql: String =
    s"""WITH $q219FactsSql
       |SELECT n_name, mo, n_orders, sales, n_ship, supply,
       | coalesce(sales, 0.0) - coalesce(supply, 0.0) AS net
       |FROM (SELECT n_name, mo, count(*) AS n_orders,
       |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
       |  FROM fa GROUP BY 1, 2) a
       |FULL JOIN (SELECT n_name, mo, count(*) AS n_ship,
       |   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS supply
       |  FROM fb GROUP BY 1, 2) b
       |USING (n_name, mo)
       |ORDER BY n_name, mo""".stripMargin

  /** DRILL-ACROSS SERVED THROUGH TWO AGGREGATE-TABLE REGISTRIES
    * ([[graft.olap.DrillAcross.navigated]]) — the Mondrian
    * virtual-cube serving path: each cube side routes its grain to
    * its own smallest covering rollup ([[graft.olap.AggNavigator]]),
    * so every drill here reads two dim-sized parquet tables and ZERO
    * fact bytes (DrillAcrossSpec plan-asserts the fact lineage is
    * never constructed). Three conformed drills — nation,
    * nation×month, month — each a full-outer conformed merge with the
    * derived net; the oracle recomputes every drill from the raw
    * facts, so a mis-routed or stale table breaks the hash. */
  def q220DrillNavigated(s: SparkSession, dir: String): DataFrame = {
    import graft.olap.AggNavigator
    val root = java.nio.file.Files.createTempDirectory("q220_aggs").toString
    try {
      val nation = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      // stage both conformed fact grains once (in production each IS a
      // stored fact table — the q214 staging idiom); the two stagings
      // are independent jobs with disjoint outputs, so they run
      // concurrently (guide §2.6), as do the two registry builds below
      graft.operators.Par.mapSeq(Seq(
        () => t(s, dir, "orders")
          .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"), month(col("o_orderdate")).as("mo"),
            col("o_totalprice"))
          .filter(col("mo") <= 8)
          .write.parquet(s"$root/factA"),
        () => t(s, dir, "lineitem")
          .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
          .select(col("n_name"), month(col("l_shipdate")).as("mo"),
            col("l_extendedprice"))
          .filter(col("mo") >= 5)
          .write.parquet(s"$root/factB")))(_())
      def factA = s.read.parquet(s"$root/factA")
      def factB = s.read.parquet(s"$root/factB")
      val Seq(regA, regB) = graft.operators.Par.mapSeq(Seq(
        () => AggNavigator.register(factA,
          Seq("nm" -> Seq("n_name", "mo")),
          Seq(AggNavigator.CountAll("n_orders"),
            AggNavigator.ExactSum("sales", "o_totalprice")), s"$root/aggA"),
        () => AggNavigator.register(factB,
          Seq("nm" -> Seq("n_name", "mo")),
          Seq(AggNavigator.CountAll("n_ship"),
            AggNavigator.ExactSum("supply", "l_extendedprice")),
          s"$root/aggB")))(_())
      val net = (coalesce(col("sales"), lit(0.0)) -
        coalesce(col("supply"), lit(0.0))).as("net")
      val drills = Seq("d1_nation" -> Seq("n_name"),
        "d2_nation_month" -> Seq("n_name", "mo"), "d3_month" -> Seq("mo"))
      // declared through the CubeQuery front door (r15) with ROUTED
      // sides: compiles to DrillAcross.navigated's per-registry
      // routing — the unchanged oracle hash plus DrillAcrossSpec's
      // zero-fact-lineage assert cover the declarative routed path
      import graft.olap.CubeQuery
      localized(drills.map { case (tag, on) =>
        CubeQuery.run(CubeQuery.Query(
          cube = CubeQuery.CubeRef(() => factA, registry = Some(regA)),
          grain = on,
          drillAcross = Seq(
            CubeQuery.CubeRef(() => factB, registry = Some(regB))),
          derived = Seq(net)))
          .select(lit(tag).as("slice"),
            concat_ws("|", on.map(c => col(c).cast("string")): _*)
              .as("member"),
            col("n_orders"), col("sales"), col("n_ship"), col("supply"),
            col("net"))
      }.reduce(_.unionByName(_))).orderBy("slice", "member")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  val q220Sql: String = {
    def drill(tag: String, cols: Seq[String]) = {
      val member = cols.map(c => s"CAST($c AS VARCHAR)").mkString(", ")
      val keys = cols.mkString(", ")
      s"""SELECT '$tag' AS slice, concat_ws('|', $member) AS member,
         | n_orders, sales, n_ship, supply,
         | coalesce(sales, 0.0) - coalesce(supply, 0.0) AS net
         |FROM (SELECT $keys, count(*) AS n_orders,
         |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
         |  FROM fa GROUP BY $keys) a
         |FULL JOIN (SELECT $keys, count(*) AS n_ship,
         |   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS supply
         |  FROM fb GROUP BY $keys) b
         |USING ($keys)""".stripMargin
    }
    val drills = Seq("d1_nation" -> Seq("n_name"),
      "d2_nation_month" -> Seq("n_name", "mo"), "d3_month" -> Seq("mo"))
    s"WITH $q219FactsSql\n" + drills.map { case (t, c) => drill(t, c) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY slice, member")
  }

  /** THREE-WAY DRILL-ACROSS ([[graft.olap.DrillAcross
    * .drillAcrossAll]]) — Kimball's general form: one report row per
    * conformed (nation, year) member, sourced from THREE fact
    * streams (customer-nation order revenue, supplier-nation shipped
    * value, supplier-nation RETURNED value). The return stream dries
    * up in later ship years (TPC-H returnflag semantics), so the
    * chained conformed merges must carry members missing from one or
    * two sides — including members introduced by a LATER side of the
    * fold — with nulls only in the absent measures. Derived net
    * composes all three sides. Oracle: two chained DuckDB FULL JOINs
    * USING the conformed levels. */
  def q221DrillAcross3(s: SparkSession, dir: String): DataFrame = {
    val nation = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val factA = t(s, dir, "orders")
      .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), year(col("o_orderdate")).as("yr"),
        col("o_totalprice"))
    val ship = t(s, dir, "lineitem")
      .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), year(col("l_shipdate")).as("yr"),
        col("l_extendedprice"), col("l_returnflag"))
    // r17 (guide §7.2): the returned-lines side used to be a THIRD
    // drill-across input — `ship.filter(flag = 'R')` — which planned
    // and executed the whole lineitem⋈supplier⋈nation subtree a second
    // time. Conditional aggregates fold it into the ship side's single
    // pass; `when(count > 0, …)` reproduces the full-outer merge's
    // NULLs for members with no returned lines (a side with no rows
    // contributes null measures), so the merged rows are identical.
    graft.olap.DrillAcross.drillAcrossAll(Seq(
      factA -> Seq(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sales")),
      ship -> {
        val nRet = count(when(col("l_returnflag") === "R", lit(1)))
        Seq(count(lit(1)).as("n_ship"),
          dsum(col("l_extendedprice")).as("supply"),
          when(nRet > 0, nRet).as("n_ret"),
          dsum(when(col("l_returnflag") === "R",
            col("l_extendedprice"))).as("returned"))
      }),
      on = Seq("n_name", "yr"),
      derived = Seq((coalesce(col("sales"), lit(0.0)) -
        coalesce(col("supply"), lit(0.0)) +
        coalesce(col("returned"), lit(0.0))).as("net")))
      .orderBy("n_name", "yr")
  }

  val q221Sql: String =
    """WITH fa AS (SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
      |   o_totalprice
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |fs AS (SELECT n_name, CAST(year(l_shipdate) AS INT) AS yr,
      |   l_extendedprice, l_returnflag
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey)
      |SELECT n_name, yr, n_orders, sales, n_ship, supply, n_ret, returned,
      | coalesce(sales, 0.0) - coalesce(supply, 0.0)
      |   + coalesce(returned, 0.0) AS net
      |FROM (SELECT n_name, yr, count(*) AS n_orders,
      |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
      |  FROM fa GROUP BY 1, 2) a
      |FULL JOIN (SELECT n_name, yr, count(*) AS n_ship,
      |   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS supply
      |  FROM fs GROUP BY 1, 2) b
      |USING (n_name, yr)
      |FULL JOIN (SELECT n_name, yr, count(*) AS n_ret,
      |   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS returned
      |  FROM fs WHERE l_returnflag = 'R' GROUP BY 1, 2) c
      |USING (n_name, yr)
      |ORDER BY n_name, yr""".stripMargin

  private[graft] val q222Candidates: Seq[(String, Seq[String])] = Seq(
    "ym" -> Seq("y", "m"), "yearly" -> Seq("y"),
    "status_prio" -> Seq("status", "prio"), "y_status" -> Seq("y", "status"),
    "all4" -> Seq("y", "m", "status", "prio"))

  private[graft] val q222Workload: Seq[Seq[String]] = Seq(
    Seq("y"), Seq("y", "m"), Seq("m"), Seq("status"), Seq("prio"),
    Seq("y", "status"), Seq("status", "prio"), Seq("y", "m", "status"))

  /** AGGREGATE ADVISOR ([[graft.olap.AggNavigator.advise]]) — the
    * registration-time tooling Mondrian shipped as AggGen: price five
    * candidate rollups against an eight-drill workload from ONE
    * grouping-sets fact pass. Exact-integer cost model (member
    * cardinality per candidate; each drill credits its smallest
    * covering candidate, the navigator's own routing order; benefit =
    * credited drills × rows saved per scan), so the oracle replays it
    * with DISTINCT counts, a static coverage relation, and the same
    * argmin — any drift in the gid bookkeeping or the credit
    * assignment breaks the hash. */
  def q222AggAdvisor(s: SparkSession, dir: String): DataFrame = {
    val fact = t(s, dir, "orders").select(
      year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
      col("o_orderstatus").as("status"), col("o_orderpriority").as("prio"))
    graft.olap.AggNavigator.advise(fact, q222Candidates, q222Workload)
  }

  val q222Sql: String = {
    val cands = q222Candidates.map { case (name, grain) =>
      s"""SELECT '$name' AS agg_name, (SELECT count(*) FROM
         |  (SELECT DISTINCT ${grain.mkString(", ")} FROM f)) AS grain_rows"""
        .stripMargin
    }.mkString("\nUNION ALL ")
    // the coverage relation is STATIC (grain ⊇ drill is set algebra on
    // the authored constants); the best-covering CHOICE is data-driven
    val coverRows = q222Workload.zipWithIndex.flatMap { case (drill, i) =>
      q222Candidates.collect {
        case (name, grain) if drill.forall(grain.contains) => s"($i, '$name')"
      }
    }.mkString(", ")
    s"""WITH f AS (SELECT CAST(year(o_orderdate) AS INT) AS y,
       |  CAST(month(o_orderdate) AS INT) AS m,
       |  o_orderstatus AS status, o_orderpriority AS prio FROM orders),
       |fr AS (SELECT count(*) AS fact_rows FROM f),
       |cand AS ($cands),
       |cover AS (SELECT * FROM (VALUES $coverRows) AS t(drill_id, agg_name)),
       |best AS (SELECT drill_id, agg_name FROM (
       |  SELECT c.drill_id, c.agg_name,
       |    row_number() OVER (PARTITION BY c.drill_id
       |      ORDER BY k.grain_rows, c.agg_name) AS rn
       |  FROM cover c JOIN cand k USING (agg_name)) WHERE rn = 1),
       |credit AS (SELECT agg_name, count(*) AS n_drills FROM best GROUP BY 1)
       |SELECT k.agg_name, k.grain_rows, fr.fact_rows,
       |  CAST(coalesce(c.n_drills, 0) AS BIGINT) AS n_drills,
       |  CAST(coalesce(c.n_drills, 0) * (fr.fact_rows - k.grain_rows)
       |    AS BIGINT) AS benefit
       |FROM cand k CROSS JOIN fr LEFT JOIN credit c USING (agg_name)
       |ORDER BY benefit DESC, agg_name""".stripMargin
  }

  /** DRILL-THROUGH ([[graft.olap.Cube.drillThrough]]) — from three
    * member-space cells back to their fact rows, the Mondrian
    * DRILLTHROUGH serving path. The `st` level has GENUINE null
    * members (nullif on 'P'), so the three cells pin the contract's
    * hard part: a null cell value with the gid bit CLEAR means "the
    * null member's rows" (IS NULL predicate), while a set gid bit
    * means "rolled up" (no predicate at all) — confusing the two
    * returns the wrong transactions silently. The predicate is a
    * conjunctive filter that pushes to the scan; the oracle replays
    * each cell as a plain WHERE clause. */
  def q223DrillThrough(s: SparkSession, dir: String): DataFrame = {
    import graft.olap.Cube
    val fact = t(s, dir, "orders").select(col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      when(col("o_orderstatus") === "P", lit(null))
        .otherwise(col("o_orderstatus")).as("st"))
    val levels = Seq("y", "st")
    val drills = Seq(
      // gid 0, st = NULL: the genuine null member's 1995 rows
      ("cell_null", 0L, Map[String, Any]("y" -> 1995, "st" -> null)),
      // gid 1 (st rolled up): ALL 1995 rows regardless of st
      ("cell_rolled", 1L, Map[String, Any]("y" -> 1995)),
      // gid 0, both levels valued
      ("cell_val", 0L, Map[String, Any]("y" -> 1996, "st" -> "O")))
    drills.map { case (tag, gid, values) =>
      Cube.drillThrough(fact, levels, gid, values)
        .select(lit(tag).as("cell"), col("o_orderkey"), col("y"), col("st"))
    }.reduce(_.unionByName(_)).orderBy("cell", "o_orderkey")
  }

  val q223Sql: String =
    """WITH f AS (SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y,
      |  nullif(o_orderstatus, 'P') AS st FROM orders)
      |SELECT 'cell_null' AS cell, o_orderkey, y, st FROM f
      | WHERE y = 1995 AND st IS NULL
      |UNION ALL
      |SELECT 'cell_rolled', o_orderkey, y, st FROM f WHERE y = 1995
      |UNION ALL
      |SELECT 'cell_val', o_orderkey, y, st FROM f
      | WHERE y = 1996 AND st = 'O'
      |ORDER BY cell, o_orderkey""".stripMargin

  /** CLOSURE-TABLE SUBTREE ROLLUP ([[graft.operators.Hierarchy
    * .closure]]) — Mondrian's `<Closure>` mechanism for RAGGED
    * parent-child hierarchies: a digit-tree over customer keys
    * (parent = key DIV 10 — ragged: leaves sit at different depths),
    * closed into every (descendant, ancestor, dist) pair by
    * log-rounds pointer doubling, then every node's WHOLE-SUBTREE
    * account balance and headcount in one equi-join + one aggregate —
    * no recursion at query time. The oracle rebuilds the closure with
    * a recursive CTE and replays the rollup; a missing pair, a wrong
    * distance, or a double-counted self-pair all break the hash. */
  def q224ClosureRollup(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
    val nodes = cust.select(col("c_custkey").as("node"),
      when(col("c_custkey") >= 10, expr("c_custkey DIV 10")).as("parent"))
    val cl = graft.operators.Hierarchy.closure(nodes, "node", "parent")
    cl.join(cust, col("desc") === col("c_custkey"))
      .groupBy(col("anc"))
      .agg(count(lit(1)).as("n_desc"),
        dsum(col("c_acctbal")).as("subtree_bal"),
        max(col("dist")).as("max_depth"))
      .orderBy("anc")
  }

  val q224Sql: String =
    """WITH RECURSIVE nodes AS (SELECT c_custkey AS node,
      |  CASE WHEN c_custkey >= 10 THEN c_custkey // 10 END AS parent
      | FROM customer),
      |cl AS (
      |  SELECT node AS dsc, node AS anc, 0 AS dist FROM nodes
      |  UNION ALL
      |  SELECT cl.dsc, n.parent, cl.dist + 1
      |  FROM cl JOIN nodes n ON cl.anc = n.node WHERE n.parent IS NOT NULL)
      |SELECT anc, count(*) AS n_desc,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS subtree_bal,
      |  CAST(max(dist) AS BIGINT) AS max_depth
      |FROM cl JOIN customer ON dsc = c_custkey
      |GROUP BY anc ORDER BY anc""".stripMargin

  /** INCREMENTAL CLOSURE MAINTENANCE ([[graft.operators.Hierarchy
    * .closureMove]]) — q224's digit-tree closure, then customer 7's
    * WHOLE SUBTREE (7, 70–79, 700–799…) is re-parented under customer
    * 123 and the closure is fixed incrementally: drop the crossing
    * pairs, keep within-subtree and outside pairs untouched, add
    * subtree × ancestors-of-123 at d₁+1+d₂ — three dimension-sized
    * joins, no rebuild, no recursion. The same whole-subtree rollup as
    * q224 then runs on the maintained closure, while the oracle
    * REBUILDS the closure from scratch with a recursive CTE over the
    * MOVED parent relation — a missed crossing pair, a wrong new
    * distance, or a disturbed within-subtree pair all break the
    * hash. */
  def q226ClosureMove(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
    val nodes = cust.select(col("c_custkey").as("node"),
      when(col("c_custkey") >= 10, expr("c_custkey DIV 10")).as("parent"))
    val cl = graft.operators.Hierarchy.closure(nodes, "node", "parent")
    val moved = graft.operators.Hierarchy.closureMove(cl, 7L, 123L)
    moved.join(cust, col("desc") === col("c_custkey"))
      .groupBy(col("anc"))
      .agg(count(lit(1)).as("n_desc"),
        dsum(col("c_acctbal")).as("subtree_bal"),
        max(col("dist")).as("max_depth"))
      .orderBy("anc")
  }

  val q226Sql: String =
    """WITH RECURSIVE nodes AS (SELECT c_custkey AS node,
      |  CASE WHEN c_custkey = 7 THEN 123
      |       WHEN c_custkey >= 10 THEN c_custkey // 10 END AS parent
      | FROM customer),
      |cl AS (
      |  SELECT node AS dsc, node AS anc, 0 AS dist FROM nodes
      |  UNION ALL
      |  SELECT cl.dsc, n.parent, cl.dist + 1
      |  FROM cl JOIN nodes n ON cl.anc = n.node WHERE n.parent IS NOT NULL)
      |SELECT anc, count(*) AS n_desc,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS subtree_bal,
      |  CAST(max(dist) AS BIGINT) AS max_depth
      |FROM cl JOIN customer ON dsc = c_custkey
      |GROUP BY anc ORDER BY anc""".stripMargin

  /** INCREMENTAL CLOSURE LIFECYCLE ([[graft.operators.Hierarchy
    * .closureMove]]/[[graft.operators.Hierarchy.closureInsert]]/
    * [[graft.operators.Hierarchy.closureDelete]]) — the three
    * maintenance events a served closure table absorbs without a
    * rebuild, CHAINED: customer 7's subtree re-parents under 123, a
    * brand-new node lands under 45 (leaf insert: self-pair + one
    * depth-sized ancestor read), and customer 9's whole subtree is
    * deleted (one anti join). The rollup aggregates the closure
    * itself (counts, exact dist sums, max depth per ancestor) so
    * every event is visible in the output; the oracle rebuilds the
    * closure from scratch over the EDITED parent relation — any
    * leaked pair, missing self-pair, or disturbed distance breaks the
    * hash. */
  def q227ClosureOps(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Hierarchy
    val nodes = t(s, dir, "customer").select(
      col("c_custkey").as("node"),
      when(col("c_custkey") >= 10, expr("c_custkey DIV 10")).as("parent"))
    val cl0 = Hierarchy.closure(nodes, "node", "parent")
    val cl = Hierarchy.closureDelete(
      Hierarchy.closureInsert(
        Hierarchy.closureMove(cl0, 7L, 123L), 10000000L, 45L), 9L)
    cl.groupBy(col("anc"))
      .agg(count(lit(1)).as("n_desc"), sum(col("dist")).as("sum_dist"),
        max(col("dist")).as("max_depth"))
      .orderBy("anc")
  }

  val q227Sql: String =
    """WITH RECURSIVE nodes AS (
      | SELECT c_custkey AS node,
      |  CASE WHEN c_custkey = 7 THEN 123
      |       WHEN c_custkey >= 10 THEN c_custkey // 10 END AS parent
      | FROM customer
      | UNION ALL SELECT CAST(10000000 AS BIGINT), CAST(45 AS BIGINT)),
      |cl AS (
      |  SELECT node AS dsc, node AS anc, 0 AS dist FROM nodes
      |  UNION ALL
      |  SELECT cl.dsc, n.parent, cl.dist + 1
      |  FROM cl JOIN nodes n ON cl.anc = n.node WHERE n.parent IS NOT NULL)
      |SELECT anc, count(*) AS n_desc,
      |  CAST(sum(dist) AS BIGINT) AS sum_dist,
      |  CAST(max(dist) AS BIGINT) AS max_depth
      |FROM cl
      |WHERE dsc NOT IN (SELECT dsc FROM cl WHERE anc = 9)
      |GROUP BY anc ORDER BY anc""".stripMargin

  /** JSON-WIRE CUBE QUERY ([[graft.olap.CubeQuery.runJson]]) — the
    * literal non-Scala client path: the CATALOG (cube names → fact
    * refs, the Mondrian-schema role) lives in code, and everything
    * else — grain, slicers, drill-across sides, measure definitions,
    * derived columns — arrives as ONE JSON document whose expressions
    * parse with Spark's own SQL parser. This query ships a two-cube
    * conformed drill (orders revenue vs lineitem shipped value per
    * year, sliced to 1996+) entirely from the wire, including the
    * exact-decimal measure expressions; the oracle replays the same
    * SQL — a drift in the JSON parsing, the slicer application (BOTH
    * sides), the measure override, or the conformed merge breaks the
    * hash. */
  def q228CubeJson(s: SparkSession, dir: String): DataFrame = {
    import graft.olap.CubeQuery
    val fa = t(s, dir, "orders").select(
      year(col("o_orderdate")).as("y"), col("o_totalprice").as("price"))
    val fb = t(s, dir, "lineitem").select(
      year(col("l_shipdate")).as("y"), col("l_extendedprice").as("price"))
    val catalog = Map(
      "orders" -> CubeQuery.CubeRef(() => fa,
        measures = Seq(count(lit(1)).as("default_n"))),
      "shipments" -> CubeQuery.CubeRef(() => fb,
        measures = Seq(count(lit(1)).as("default_ship"))))
    val json =
      """{ "cube": "orders",
        |  "grain": ["y"],
        |  "slicers": ["y >= 1996"],
        |  "drillAcross": ["shipments"],
        |  "measures": {
        |    "orders": [
        |      {"as": "n_orders", "expr": "count(1)"},
        |      {"as": "sales",
        |       "expr": "cast(sum(cast(price as decimal(18,2))) as double)"}],
        |    "shipments": [
        |      {"as": "n_ship", "expr": "count(1)"},
        |      {"as": "supply",
        |       "expr": "cast(sum(cast(price as decimal(18,2))) as double)"}]},
        |  "derived": [
        |    {"as": "net",
        |     "expr": "coalesce(sales, 0.0) - coalesce(supply, 0.0)"}]
        |}""".stripMargin
    CubeQuery.runJson(json, catalog).orderBy("y")
  }

  val q228Sql: String =
    """WITH fa AS (SELECT CAST(year(o_orderdate) AS INT) AS y,
      |   o_totalprice AS price FROM orders
      |  WHERE CAST(year(o_orderdate) AS INT) >= 1996),
      |fb AS (SELECT CAST(year(l_shipdate) AS INT) AS y,
      |   l_extendedprice AS price FROM lineitem
      |  WHERE CAST(year(l_shipdate) AS INT) >= 1996)
      |SELECT y, n_orders, sales, n_ship, supply,
      | coalesce(sales, 0.0) - coalesce(supply, 0.0) AS net
      |FROM (SELECT y, count(*) AS n_orders,
      |   CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sales
      |  FROM fa GROUP BY y) a
      |FULL JOIN (SELECT y, count(*) AS n_ship,
      |   CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS supply
      |  FROM fb GROUP BY y) b
      |USING (y)
      |ORDER BY y""".stripMargin

  /** MDX TEXT QUERY ([[graft.olap.Mdx]]) — the language the
    * reference's users actually type at the cube (Mondrian over
    * `Schema_Trabajo_Final.xml:56-91`): a CROSSJOIN drill of the
    * fecha and transporte hierarchies, sliced to one sexo member,
    * selecting both schema measures — parsed from the literal MDX
    * string, compiled onto [[graft.olap.CubeQuery]]'s grain path
    * (the same groupBy plan a Scala caller gets; MdxSpec asserts
    * plan identity and routed zero-fact-lineage separately). The
    * oracle replays the drill directly over the natural-key CTE —
    * a drift in the parse, the level-prefix expansion
    * (`[fecha].[anio_movi].Members` → the `anio_movi` grain), the
    * slicer value typing, or the measure selection breaks the hash. */
  def q229Mdx(s: SparkSession, dir: String): DataFrame = {
    import graft.olap.Mdx
    val catalog = q203Catalog(s, dir)
    val mdx =
      """SELECT {[Measures].[cantidad_movimientos],
        |        [Measures].[promedio_edades]} ON COLUMNS,
        |       CROSSJOIN({[fecha].[anio_movi].Members},
        |                 {[transporte].[via_tran].Members}) ON ROWS
        |FROM [movimientos]
        |WHERE ([sexo].[sex_migr].[M])""".stripMargin
    Mdx.run(mdx, catalog, q203Schema).orderBy("anio_movi", "via_tran")
  }

  val q229Sql: String =
    """WITH raw AS (SELECT
      |  CAST(year(o_orderdate) AS INT) AS anio_movi,
      |  CASE WHEN o_orderkey % 2 = 0 THEN 'M' ELSE 'F' END AS sex_migr,
      |  CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'aerea'
      |       WHEN o_orderpriority = '3-MEDIUM' THEN 'terrestre'
      |       ELSE 'maritima' END AS via_tran,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       ELSE CAST(o_custkey % 80 + 1 AS INT) END AS edad
      | FROM orders)
      |SELECT anio_movi, via_tran,
      | count(*) AS cantidad_movimientos,
      | round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE) / count(edad), 6)
      |   AS promedio_edades
      |FROM raw WHERE sex_migr = 'M'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** SQL-VIEW CUBE FACE ([[graft.olap.CubeQuery.registerSql]]) — the
    * reference's OTHER textual entry point: Grafana speaks plain SQL
    * at the serving store (`docker-compose.yaml:20-47`). The whole
    * q203 member space registers as a session temp view and the
    * client's query is a LITERAL SQL string over it — picking the
    * (fact, anio, mes) member set by its grouping id and projecting
    * the measures. The oracle recomputes that one set directly from
    * the natural keys, so the registration, the GROUPING SETS gid
    * arithmetic AND the SQL-face filtering must all agree to hash. */
  def q230CubeSql(s: SparkSession, dir: String): DataFrame = {
    import graft.olap.CubeQuery
    CubeQuery.registerSql(s, "cube_movimientos", CubeQuery.Query(
      cube = q203Cube(s, dir),
      hierarchies = q203Hierarchies,
      always = Seq("fact")))
    // gid 255 = the (fact, anio_movi, mes_movi) set: dia..ocu (8
    // trailing level columns) grouped OUT → 128+64+32+16+8+4+2+1
    s.sql("""SELECT fact, anio_movi, mes_movi,
      |       cantidad_movimientos, promedio_edades
      |FROM cube_movimientos WHERE gid = 255
      |ORDER BY fact, anio_movi, mes_movi""".stripMargin)
  }

  val q230Sql: String =
    """WITH raw AS (SELECT
      |  CASE WHEN o_orderstatus = 'O' THEN ' Entrada ' ELSE 'salida' END AS tip_movi,
      |  CAST(year(o_orderdate) AS INT) AS anio_movi,
      |  CAST(month(o_orderdate) AS INT) AS mes_movi,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       ELSE CAST(o_custkey % 80 + 1 AS INT) END AS edad
      | FROM orders),
      |f AS (SELECT CASE WHEN lower(trim(tip_movi)) = 'entrada'
      |             THEN 'inmigrante' ELSE 'emigrante' END AS fact, * FROM raw)
      |SELECT fact, anio_movi, mes_movi,
      | count(*) AS cantidad_movimientos,
      | round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE) / count(edad), 6)
      |   AS promedio_edades
      |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** MDX SET UNION ([[graft.olap.Mdx]] → [[graft.olap.CubeQuery]]'s
    * explicit-sets face, r16) — `{a.Members, b.Members, c.Members}`
    * on ROWS is several member sets at DIFFERENT grains; Mondrian
    * would answer it with one generated SQL per set (one scan each),
    * this face lowers the whole union to ONE GROUPING SETS pass with
    * the memberSets `gid` as the cell identity. The oracle replays
    * the same three sets with SQL GROUPING SETS — the parse, the
    * union→sets lowering, the gid bit arithmetic and the single-pass
    * plan must all agree to hash. */
  def q231MdxSets(s: SparkSession, dir: String): DataFrame = {
    import graft.olap.Mdx
    val catalog = q203Catalog(s, dir)
    val mdx =
      """SELECT {[Measures].[cantidad_movimientos],
        |        [Measures].[promedio_edades]} ON COLUMNS,
        |       {[fecha].[anio_movi].Members,
        |        [transporte].[via_tran].Members,
        |        [nacionalidad].[nac_migr].Members} ON ROWS
        |FROM [movimientos]""".stripMargin
    Mdx.run(mdx, catalog, q203Schema)
      .orderBy(col("gid"), col("anio_movi").asc_nulls_first,
        col("via_tran").asc_nulls_first, col("nac_migr").asc_nulls_first)
  }

  val q231Sql: String =
    """WITH raw AS (SELECT
      |  CAST(year(o_orderdate) AS INT) AS anio_movi,
      |  o_orderpriority AS nac_migr,
      |  CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'aerea'
      |       WHEN o_orderpriority = '3-MEDIUM' THEN 'terrestre'
      |       ELSE 'maritima' END AS via_tran,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       ELSE CAST(o_custkey % 80 + 1 AS INT) END AS edad
      | FROM orders)
      |SELECT anio_movi, via_tran, nac_migr,
      | CAST(4*GROUPING(anio_movi) + 2*GROUPING(via_tran)
      |  + GROUPING(nac_migr) AS BIGINT) AS gid,
      | count(*) AS cantidad_movimientos,
      | round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE) / count(edad), 6)
      |   AS promedio_edades
      |FROM raw
      |GROUP BY GROUPING SETS ((anio_movi), (via_tran), (nac_migr))
      |ORDER BY gid, anio_movi NULLS FIRST, via_tran NULLS FIRST,
      | nac_migr NULLS FIRST""".stripMargin

  /** MDX CALCULATED MEMBER ([[graft.olap.Mdx]] `WITH MEMBER`, r16) —
    * Mondrian's other core query feature: a measure DERIVED from the
    * cube's measures in the query text itself. Lowered as a
    * post-aggregation projection (works identically on routed
    * queries — a ratio of stored partials never touches the fact)
    * with `[Measures].[x]` references rewritten to aliases and the
    * expression gated through the wire function allowlist: MDX
    * arrives as untrusted text. The oracle derives the same column
    * from the same aggregate — the WITH parse, the reference rewrite,
    * the gate, and the projection must all agree to hash. */
  def q232MdxCalc(s: SparkSession, dir: String): DataFrame = {
    import graft.olap.Mdx
    val catalog = q203Catalog(s, dir)
    val mdx =
      """WITH MEMBER [Measures].[carga_estimada] AS
        | 'round([Measures].[cantidad_movimientos]
        |        * [Measures].[promedio_edades] / 100.0, 6)'
        |SELECT {[Measures].[cantidad_movimientos],
        |        [Measures].[promedio_edades],
        |        [Measures].[carga_estimada]} ON COLUMNS,
        |       {[transporte].[via_tran].Members} ON ROWS
        |FROM [movimientos]""".stripMargin
    Mdx.run(mdx, catalog, q203Schema).orderBy("via_tran")
  }

  val q232Sql: String =
    """WITH raw AS (SELECT
      |  CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'aerea'
      |       WHEN o_orderpriority = '3-MEDIUM' THEN 'terrestre'
      |       ELSE 'maritima' END AS via_tran,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       ELSE CAST(o_custkey % 80 + 1 AS INT) END AS edad
      | FROM orders),
      |g AS (SELECT via_tran,
      |  count(*) AS cantidad_movimientos,
      |  round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE) / count(edad), 6)
      |    AS promedio_edades
      | FROM raw GROUP BY 1)
      |SELECT via_tran, cantidad_movimientos, promedio_edades,
      | round(cantidad_movimientos * promedio_edades / 100.0, 6)
      |   AS carga_estimada
      |FROM g ORDER BY via_tran""".stripMargin

  /** MDX NON EMPTY ([[graft.olap.Mdx]], r16) — Mondrian's
    * empty-tuple pruning: cells whose every SELECTED measure is null
    * drop from the axis. The measure here (count of 80-year-olds) is
    * null for most (anio, mes, dia) cells, so NON EMPTY does real
    * work; the oracle replays the prune as a HAVING over the same
    * aggregate — the parse, the selected-measure scoping and the
    * post-agg filter must agree to hash. */
  def q233MdxNonempty(s: SparkSession, dir: String): DataFrame = {
    import graft.olap.Mdx
    val catalog = q203Catalog(s, dir,
      Seq(count(col("id_persona")).as("cantidad_movimientos"),
        sum(when(col("edad") === 80, 1)).cast("long").as("octogenarios")))
    val mdx =
      """SELECT {[Measures].[octogenarios]} ON COLUMNS,
        |       NON EMPTY {[fecha].[dia_movi].Members} ON ROWS
        |FROM [movimientos]""".stripMargin
    Mdx.run(mdx, catalog, q203Schema)
      .orderBy("anio_movi", "mes_movi", "dia_movi")
  }

  val q233Sql: String =
    """WITH raw AS (SELECT
      |  CAST(year(o_orderdate) AS INT) AS anio_movi,
      |  CAST(month(o_orderdate) AS INT) AS mes_movi,
      |  CAST(day(o_orderdate) AS INT) AS dia_movi,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       ELSE CAST(o_custkey % 80 + 1 AS INT) END AS edad
      | FROM orders)
      |SELECT anio_movi, mes_movi, dia_movi,
      | CAST(sum(CASE WHEN edad = 80 THEN 1 END) AS BIGINT)
      |   AS octogenarios
      |FROM raw GROUP BY 1, 2, 3
      |HAVING sum(CASE WHEN edad = 80 THEN 1 END) IS NOT NULL
      |ORDER BY 1, 2, 3""".stripMargin

  /** MDX AXIS MEMBER LITERALS ([[graft.olap.Mdx]], r16) — individual
    * members selected ON the axis (`{[anio].[1995], [anio].[1996]}`),
    * the everyday BI query shape. Unlike a WHERE slicer this is CELL
    * selection: the drill runs at the level's prefix grain and the
    * literals filter the AGGREGATED result — so a routed cube serves
    * it from stored partials with zero fact lineage (MdxSpec asserts
    * that separately). Values type by the cube column (the '1995'
    * text casts to the int level). The oracle filters the same two
    * years pre-aggregation — equivalent because the grain contains
    * the level — so the parse, the literal merge, the typed cast and
    * the post-agg selection must all agree to hash. */
  def q234MdxMembers(s: SparkSession, dir: String): DataFrame = {
    import graft.olap.Mdx
    val catalog = q203Catalog(s, dir)
    val mdx =
      """SELECT {[Measures].[cantidad_movimientos],
        |        [Measures].[promedio_edades]} ON COLUMNS,
        |       CROSSJOIN({[fecha].[anio_movi].[1995],
        |                  [fecha].[anio_movi].[1996]},
        |                 {[transporte].[via_tran].Members}) ON ROWS
        |FROM [movimientos]""".stripMargin
    Mdx.run(mdx, catalog, q203Schema).orderBy("anio_movi", "via_tran")
  }

  val q234Sql: String =
    """WITH raw AS (SELECT
      |  CAST(year(o_orderdate) AS INT) AS anio_movi,
      |  CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'aerea'
      |       WHEN o_orderpriority = '3-MEDIUM' THEN 'terrestre'
      |       ELSE 'maritima' END AS via_tran,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       ELSE CAST(o_custkey % 80 + 1 AS INT) END AS edad
      | FROM orders)
      |SELECT anio_movi, via_tran,
      | count(*) AS cantidad_movimientos,
      | round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE) / count(edad), 6)
      |   AS promedio_edades
      |FROM raw WHERE anio_movi IN (1995, 1996)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** MDX TOPCOUNT ([[graft.olap.Mdx]], r16) — the classic BI rank-n:
    * the 5 (anio, nacionalidad) cells with the most movements. A
    * post-aggregation sort+limit, DETERMINISTIC by construction
    * (measure DESC nulls-last, then the grain columns ascending as
    * the tie-break — rank-n is a function of the data, never of
    * partitioning), so it is routed-safe and the result row ORDER is
    * part of the contract. The oracle replays the same rank with
    * ORDER BY … DESC / tie-break / LIMIT. */
  def q235MdxTopcount(s: SparkSession, dir: String): DataFrame = {
    import graft.olap.Mdx
    val catalog = q203Catalog(s, dir)
    val mdx =
      """SELECT {[Measures].[cantidad_movimientos],
        |        [Measures].[promedio_edades]} ON COLUMNS,
        |       TOPCOUNT(CROSSJOIN({[fecha].[anio_movi].Members},
        |                          {[nacionalidad].[nac_migr].Members}),
        |                5, [Measures].[cantidad_movimientos]) ON ROWS
        |FROM [movimientos]""".stripMargin
    Mdx.run(mdx, catalog, q203Schema)
  }

  val q235Sql: String =
    """WITH raw AS (SELECT
      |  CAST(year(o_orderdate) AS INT) AS anio_movi,
      |  o_orderpriority AS nac_migr,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       ELSE CAST(o_custkey % 80 + 1 AS INT) END AS edad
      | FROM orders)
      |SELECT anio_movi, nac_migr,
      | count(*) AS cantidad_movimientos,
      | round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE) / count(edad), 6)
      |   AS promedio_edades
      |FROM raw GROUP BY 1, 2
      |ORDER BY cantidad_movimientos DESC, anio_movi, nac_migr
      |LIMIT 5""".stripMargin

  /** MDX FILTER + ORDER ([[graft.olap.Mdx]], r16) — composed set
    * functions, innermost-first: prune the (anio, sexo) cells below
    * 1000 movements (the condition is QUOTED expression text, gated
    * through the wire allowlist — MDX is untrusted), then sort by
    * average age descending with the deterministic grain tie-break.
    * The oracle replays FILTER as HAVING and ORDER as ORDER BY — the
    * composition order and both post-agg operators must agree to
    * hash, row order included. */
  def q236MdxFilterOrder(s: SparkSession, dir: String): DataFrame = {
    import graft.olap.Mdx
    val catalog = q203Catalog(s, dir)
    val mdx =
      """SELECT {[Measures].[cantidad_movimientos],
        |        [Measures].[promedio_edades]} ON COLUMNS,
        |       ORDER(FILTER(CROSSJOIN({[fecha].[anio_movi].Members},
        |                              {[sexo].[sex_migr].Members}),
        |                    '[Measures].[cantidad_movimientos] >= 1000'),
        |             [Measures].[promedio_edades], BDESC) ON ROWS
        |FROM [movimientos]""".stripMargin
    Mdx.run(mdx, catalog, q203Schema)
  }

  val q236Sql: String =
    """WITH raw AS (SELECT
      |  CAST(year(o_orderdate) AS INT) AS anio_movi,
      |  CASE WHEN o_orderkey % 2 = 0 THEN 'M' ELSE 'F' END AS sex_migr,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       ELSE CAST(o_custkey % 80 + 1 AS INT) END AS edad
      | FROM orders)
      |SELECT anio_movi, sex_migr,
      | count(*) AS cantidad_movimientos,
      | round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE) / count(edad), 6)
      |   AS promedio_edades
      |FROM raw GROUP BY 1, 2
      |HAVING count(*) >= 1000
      |ORDER BY promedio_edades DESC, anio_movi, sex_migr""".stripMargin

  /** MDX DRILLTHROUGH ([[graft.olap.Mdx]], r16) — Mondrian's other
    * STATEMENT type: from one cube cell back to the fact rows behind
    * it (the r14 [[graft.olap.Cube.drillThrough]] operator, now
    * reachable from query text). The cell is the conjunction of the
    * axis member literal and the WHERE tuple, each value typed by
    * the cube column; RETURN projects fact columns. This is the one
    * statement that always reads the fact — row-level retrieval has
    * no stored-partials answer. The oracle replays the same
    * cell predicate over the natural-key CTE: the parse, the
    * coordinate typing and the projection must agree to hash. */
  def q237MdxDrillthrough(s: SparkSession, dir: String): DataFrame = {
    import graft.olap.Mdx
    val catalog = q203Catalog(s, dir,
      Seq(count(col("id_persona")).as("cantidad_movimientos")))
    val mdx =
      """DRILLTHROUGH
        |SELECT {[Measures].[cantidad_movimientos]} ON COLUMNS,
        |       {[transporte].[via_tran].[aerea]} ON ROWS
        |FROM [movimientos]
        |WHERE ([fecha].[anio_movi].[1995], [sexo].[sex_migr].[F])
        |RETURN [anio_movi], [via_tran], [sex_migr], [nac_migr], [edad]"""
        .stripMargin
    Mdx.run(mdx, catalog, q203Schema)
      .orderBy(col("nac_migr"), col("edad").asc_nulls_first)
  }

  val q237Sql: String =
    """WITH raw AS (SELECT
      |  CAST(year(o_orderdate) AS INT) AS anio_movi,
      |  CASE WHEN o_orderkey % 2 = 0 THEN 'M' ELSE 'F' END AS sex_migr,
      |  o_orderpriority AS nac_migr,
      |  CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'aerea'
      |       WHEN o_orderpriority = '3-MEDIUM' THEN 'terrestre'
      |       ELSE 'maritima' END AS via_tran,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       ELSE CAST(o_custkey % 80 + 1 AS INT) END AS edad
      | FROM orders)
      |SELECT anio_movi, via_tran, sex_migr, nac_migr, edad
      |FROM raw
      |WHERE anio_movi = 1995 AND via_tran = 'aerea' AND sex_migr = 'F'
      |ORDER BY nac_migr, edad""".stripMargin

  /** TRANSPARENT SQL→ROLLUP REWRITE ([[graft.olap.AggRoute]], r16) —
    * the reference's OTHER query door served from aggregate tables:
    * Grafana speaks plain SQL at the warehouse
    * (`docker-compose.yaml:20-47`), and a real aggregate-navigation
    * deployment (Mondrian agg tables, Oracle QUERY REWRITE) answers
    * that SQL from rollups too, without the client changing a
    * character. Here the q214 registry's rollups are ROUTED onto the
    * staged star fact, and the query is a LITERAL SQL string over the
    * fact view — a filtered month-grain drill — that the Catalyst
    * rule rewrites onto the `fecha_mes` rollup: the filter commutes
    * (grain-column selection picks whole groups), the measures
    * re-derive from mergeable partials, and the optimized plan reads
    * ONLY dim-sized agg parquet (asserted in-query: a silent
    * fall-through to the fact would return the same rows, so the
    * assert makes the correctness gate also gate the ROUTING). The
    * oracle replays the SQL directly over the natural keys — the
    * rewrite must be bit-identical, not approximately right. */
  def q238AggRoute(s: SparkSession, dir: String): DataFrame = {
    import graft.olap.{AggNavigator, AggRoute}
    val root = java.nio.file.Files.createTempDirectory("q238_route").toString
    val staged = s"$root/fact"
    try {
      q203Wide(s, dir).write.parquet(staged)
      val reg = AggNavigator.registerShared(s.read.parquet(staged),
        q214Grains, q214Measures, root)
      AggRoute.route(staged, reg)
      try {
        s.read.parquet(staged).createOrReplaceTempView("mov_fact_sql")
        val routed = s.sql(
          """SELECT fact, anio_movi,
            | count(*) AS cantidad_movimientos,
            | round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE)
            |   / count(edad), 6) AS promedio_edades
            |FROM mov_fact_sql
            |WHERE anio_movi >= 1995
            |GROUP BY fact, anio_movi""".stripMargin)
        val scans = routed.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case fs: org.apache.spark.sql.execution.datasources
                  .HadoopFsRelation => fs.location.rootPaths.map(_.toString)
              case _ => Nil
            }
        }.flatten
        require(scans.nonEmpty && scans.forall(_.contains("agg_fecha_mes")),
          s"q238 must serve from the fecha_mes rollup, scanned: $scans")
        localized(routed).orderBy("fact", "anio_movi")
      } finally AggRoute.unroute(s, staged)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  val q238Sql: String =
    """WITH raw AS (SELECT
      |  CASE WHEN o_orderstatus = 'O' THEN ' Entrada ' ELSE 'salida' END AS tip_movi,
      |  CAST(year(o_orderdate) AS INT) AS anio_movi,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       ELSE CAST(o_custkey % 80 + 1 AS INT) END AS edad
      | FROM orders),
      |f AS (SELECT CASE WHEN lower(trim(tip_movi)) = 'entrada'
      |             THEN 'inmigrante' ELSE 'emigrante' END AS fact, * FROM raw)
      |SELECT fact, anio_movi,
      | count(*) AS cantidad_movimientos,
      | round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE) / count(edad), 6)
      |   AS promedio_edades
      |FROM f WHERE anio_movi >= 1995
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** ROUTED SLICED MDX ([[graft.olap.Mdx]] → [[graft.olap.CubeQuery]]
    * → [[graft.olap.AggNavigator.navigate]] with slicers, r16) — the
    * serving shape Mondrian users hit constantly: a WHERE-sliced MDX
    * drill against a cube backed by aggregate tables. A slicer whose
    * level the covering rollup's grain carries selects WHOLE fact
    * groups at that grain, so it commutes onto the stored partials —
    * the sliced drill is served from the dim-sized `fecha_mes` table
    * with ZERO fact lineage (asserted in-query: before r16 this shape
    * was rejected outright, and a silent fall-through to the fact
    * would return the same rows). The slicer value types by the
    * registry's captured grain types, so not even the fact's SCHEMA
    * is read. The oracle replays the sliced drill over the natural
    * keys — partial filtering, merge, and the month-grain grouping
    * must all be bit-identical. */
  def q239MdxRoutedSlicer(s: SparkSession, dir: String): DataFrame = {
    import graft.olap.{AggNavigator, CubeQuery, Mdx}
    val root = java.nio.file.Files.createTempDirectory("q239_sliced").toString
    val staged = s"$root/fact"
    try {
      q203Wide(s, dir).write.parquet(staged)
      val reg = AggNavigator.registerShared(s.read.parquet(staged),
        q214Grains, q214Measures, root)
      val catalog = Map("movimientos" -> CubeQuery.CubeRef(
        () => s.read.parquet(staged), registry = Some(reg)))
      val mdx =
        """SELECT {[Measures].[cantidad_movimientos],
          |        [Measures].[promedio_edades]} ON COLUMNS,
          |       {[fecha].[mes_movi].Members} ON ROWS
          |FROM [movimientos]
          |WHERE ([fecha].[anio_movi].[1995])""".stripMargin
      val routed = Mdx.run(mdx, catalog, q203Schema)
      val scans = routed.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case fs: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation => fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
      require(scans.nonEmpty && scans.forall(_.contains("agg_fecha_mes")),
        s"q239 must serve the sliced drill from fecha_mes, scanned: $scans")
      localized(routed).orderBy("anio_movi", "mes_movi")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  val q239Sql: String =
    """WITH raw AS (SELECT
      |  CAST(year(o_orderdate) AS INT) AS anio_movi,
      |  CAST(month(o_orderdate) AS INT) AS mes_movi,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |       ELSE CAST(o_custkey % 80 + 1 AS INT) END AS edad
      | FROM orders)
      |SELECT anio_movi, mes_movi,
      | count(*) AS cantidad_movimientos,
      | round(CAST(sum(CAST(edad AS DECIMAL(18,2))) AS DOUBLE) / count(edad), 6)
      |   AS promedio_edades
      |FROM raw WHERE anio_movi = 1995
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private[graft] val q225Budget = 120L

  /** BUDGET-CONSTRAINED AGGREGATE ADVISOR ([[graft.olap.AggNavigator
    * .adviseBudget]]) — the real AggGen decision: q222's five
    * candidates and eight drills, but the DBA will store at most 120
    * rows, so the output is the chosen SET. Greedy in initial-benefit
    * order (Harinarayan/Rajaraman/Ullman '96): admit what fits the
    * remaining budget, skip what doesn't WITHOUT stopping, then
    * re-credit every drill within the chosen set (the navigator's own
    * routing order). The oracle replays the pricing with DISTINCT
    * counts, the initial crediting as in q222, and the greedy itself
    * as a linear RECURSIVE scan over the ranked candidates — any
    * drift in the admission rule, the skip semantics, or the
    * re-crediting breaks the hash. */
  def q225AggBudget(s: SparkSession, dir: String): DataFrame = {
    val fact = t(s, dir, "orders").select(
      year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
      col("o_orderstatus").as("status"), col("o_orderpriority").as("prio"))
    graft.olap.AggNavigator.adviseBudget(fact, q222Candidates, q222Workload,
      q225Budget)
  }

  val q225Sql: String = {
    val cands = q222Candidates.map { case (name, grain) =>
      s"""SELECT '$name' AS agg_name, (SELECT count(*) FROM
         |  (SELECT DISTINCT ${grain.mkString(", ")} FROM f)) AS grain_rows"""
        .stripMargin
    }.mkString("\nUNION ALL ")
    val coverRows = q222Workload.zipWithIndex.flatMap { case (drill, i) =>
      q222Candidates.collect {
        case (name, grain) if drill.forall(grain.contains) => s"($i, '$name')"
      }
    }.mkString(", ")
    s"""WITH RECURSIVE f AS (SELECT CAST(year(o_orderdate) AS INT) AS y,
       |  CAST(month(o_orderdate) AS INT) AS m,
       |  o_orderstatus AS status, o_orderpriority AS prio FROM orders),
       |fr AS (SELECT count(*) AS fact_rows FROM f),
       |cand AS ($cands),
       |cover AS (SELECT * FROM (VALUES $coverRows) AS t(drill_id, agg_name)),
       |best0 AS (SELECT drill_id, agg_name FROM (
       |  SELECT c.drill_id, c.agg_name,
       |    row_number() OVER (PARTITION BY c.drill_id
       |      ORDER BY k.grain_rows, c.agg_name) AS rn
       |  FROM cover c JOIN cand k USING (agg_name)) WHERE rn = 1),
       |credit0 AS (SELECT agg_name, count(*) AS n0 FROM best0 GROUP BY 1),
       |ranked AS (SELECT k.agg_name, k.grain_rows,
       |    coalesce(c.n0, 0) * (fr.fact_rows - k.grain_rows) AS benefit0,
       |    row_number() OVER (ORDER BY
       |      coalesce(c.n0, 0) * (fr.fact_rows - k.grain_rows) DESC,
       |      k.agg_name) AS rn
       |  FROM cand k CROSS JOIN fr LEFT JOIN credit0 c USING (agg_name)),
       |greedy AS (
       |  SELECT 0 AS rn, CAST($q225Budget AS BIGINT) AS remaining,
       |    CAST(0 AS BIGINT) AS picks, CAST(NULL AS VARCHAR) AS picked,
       |    CAST(0 AS BIGINT) AS pick
       |  UNION ALL
       |  SELECT r.rn,
       |    CASE WHEN r.benefit0 > 0 AND r.grain_rows <= g.remaining
       |      THEN g.remaining - r.grain_rows ELSE g.remaining END,
       |    CASE WHEN r.benefit0 > 0 AND r.grain_rows <= g.remaining
       |      THEN g.picks + 1 ELSE g.picks END,
       |    CASE WHEN r.benefit0 > 0 AND r.grain_rows <= g.remaining
       |      THEN r.agg_name END,
       |    CASE WHEN r.benefit0 > 0 AND r.grain_rows <= g.remaining
       |      THEN g.picks + 1 ELSE CAST(0 AS BIGINT) END
       |  FROM greedy g JOIN ranked r ON r.rn = g.rn + 1),
       |chosen AS (SELECT picked AS agg_name, pick FROM greedy
       |  WHERE picked IS NOT NULL),
       |best1 AS (SELECT drill_id, agg_name FROM (
       |  SELECT c.drill_id, c.agg_name,
       |    row_number() OVER (PARTITION BY c.drill_id
       |      ORDER BY k.grain_rows, c.agg_name) AS rn
       |  FROM cover c JOIN cand k USING (agg_name)
       |  JOIN chosen USING (agg_name)) WHERE rn = 1),
       |credit1 AS (SELECT agg_name, count(*) AS n1 FROM best1 GROUP BY 1)
       |SELECT k.agg_name, k.grain_rows, fr.fact_rows,
       |  (ch.agg_name IS NOT NULL) AS chosen,
       |  CAST(coalesce(ch.pick, 0) AS BIGINT) AS pick,
       |  CAST(coalesce(c1.n1, 0) AS BIGINT) AS n_drills,
       |  CAST(coalesce(c1.n1, 0) * (fr.fact_rows - k.grain_rows)
       |    AS BIGINT) AS benefit
       |FROM cand k CROSS JOIN fr
       |LEFT JOIN chosen ch USING (agg_name)
       |LEFT JOIN credit1 c1 USING (agg_name)
       |ORDER BY agg_name""".stripMargin
  }

  // ===================================================================
  // Wiring
  // ===================================================================

  /** Every declared query, each named once, in one list; `bench`
    * marks the 97 that [[Bench]] times. [[SparkEntry]]'s maps derive
    * from it, so its names must be unique (RegistrySpec checks). */
  val registry: Seq[QuerySpec] = Seq(
    QuerySpec("q01_pricing", q01Pricing, q01Sql, bench = true),
    QuerySpec("q02_filter", q02Filter, q02Sql),
    QuerySpec("q03_star", q03Star, q03Sql, bench = true),
    QuerySpec("q04_rollup", q04Rollup, q04Sql, bench = true),
    QuerySpec("q05_topk", q05TopK, q05Sql),
    QuerySpec("q06_union", q06Union, q06Sql),
    QuerySpec("q07_dim", q07Dim, q07Sql),
    QuerySpec("q08_router", q08Router, q08Sql),
    QuerySpec("q09_valuemap", q09ValueMap, q09Sql),
    QuerySpec("q10_normalize", q10Normalize, q10Sql),
    // bench: the collect_list top-k, beside q87's bounded heap
    QuerySpec("q11_window_topk", q11WindowTopK, q11Sql, bench = true),
    QuerySpec("q12_dateparts", q12DateParts, q12Sql),
    QuerySpec("q13_events_window", q13EventsWindow, q13Sql, bench = true),
    QuerySpec("q14_zscore", q14ZScore, q14Sql),
    QuerySpec("q15_class_weights", q15ClassWeights, q15Sql),
    QuerySpec("q16_label_encode", q16LabelEncode, q16Sql),
    QuerySpec("q17_exact_dedup", q17ExactDedup, q17Sql, bench = true),
    QuerySpec("q18_jaccard", q18Jaccard, q18Sql),
    QuerySpec("q19_langid", q19LangId, q19Sql),
    QuerySpec("q20_quality", q20Quality, q20Sql),
    QuerySpec("q21_rolling_hash", q21RollingHash, q21Sql, bench = true),
    QuerySpec("q22_cosine_topk", q22CosineTopK, q22Sql, bench = true),
    QuerySpec("q23_minhash_dup", q23MinhashDup, q23Sql, bench = true),
    QuerySpec("q24_simhash_dup", q24SimhashDup, q24Sql),
    QuerySpec("q25_embed_dup", q25EmbedDup, q25Sql),
    QuerySpec("q26_dateseq", q26DateSeq, q26Sql),
    QuerySpec("q30_cube_drill", q30CubeDrill, q30Sql),
    QuerySpec("q31_sessionize", q31Sessionize, q31Sql),
    QuerySpec("q32_media_meta", q32MediaMeta, q32Sql),
    // bench: the scan ANN, beside q52's indexed probe
    QuerySpec("q27_ann_topk", q27AnnTopK, q27Sql, bench = true),
    QuerySpec("q28_minhash_sig", q28MinhashSig, q28Sql),
    QuerySpec("q29_simhash_sig", q29SimhashSig, q29Sql),
    QuerySpec("q33_fuzzy", q33Fuzzy, q33Sql),
    QuerySpec("q34_impute", q34Impute, q34Sql),
    QuerySpec("q35_onehot", q35OneHot, q35Sql),
    QuerySpec("q36_esi_etl", q36EsiEtl, q36Sql, bench = true),
    QuerySpec("q37_unmapped", q37Unmapped, q37Sql),
    QuerySpec("q38_distinct", q38Distinct, q38Sql),
    QuerySpec("q39_cube", q39Cube, q39Sql),
    QuerySpec("q40_running", q40Running, q40Sql),
    // bench: the window as-of join, beside q173's native node
    QuerySpec("q41_asof", q41AsOf, q41Sql, bench = true),
    QuerySpec("q42_json", q42Json, q42Sql),
    QuerySpec("q43_sample", q43Sample, q43Sql),
    QuerySpec("q44_ivf_topk", q44IvfTopK, q44Sql),
    QuerySpec("q45_range", q45Range, q45Sql),
    QuerySpec("q46_forecast", q46Forecast, q46Sql),
    QuerySpec("q47_dim_append", q47DimAppend, q47Sql),
    QuerySpec("q48_group_sample", q48GroupSample, q48Sql),
    QuerySpec("q49_percentile", q49Percentile, q49Sql),
    QuerySpec("q50_string_agg", q50StringAgg, q50Sql),
    QuerySpec("q51_pivot", q51Pivot, q51Sql),
    // bench: the first pass builds the index; min-of-3 reports
    // the pruned probe
    QuerySpec("q52_ann_indexed", q52AnnIndexed, q52Sql, bench = true),
    QuerySpec("q53_ivf_indexed", q53IvfIndexed, q53Sql, bench = true),
    QuerySpec("q54_class_report", q54ClassReport, q54Sql),
    QuerySpec("q55_curation", q55Curation, q55Sql),
    QuerySpec("q56_vocab", q56Vocab, q56Sql),
    QuerySpec("q57_quantize", q57Quantize, q57Sql),
    QuerySpec("q58_tensor_prep", q58TensorPrep, q58Sql, bench = true),
    QuerySpec("q59_boilerplate", q59Boilerplate, q59Sql),
    QuerySpec("q60_decontaminate", q60Decontaminate, q60Sql, bench = true),
    QuerySpec("q61_repetition", q61Repetition, q61Sql),
    QuerySpec("q62_redact", q62Redact, q62Sql),
    QuerySpec("q63_pack", q63Pack, q63Sql, bench = true),
    QuerySpec("q64_dup_clusters", q64DupClusters, q64Sql, bench = true),
    QuerySpec("q65_approx_distinct", q65ApproxDistinct, q65Sql),
    QuerySpec("q66_bpe_pairs", q66BpePairs, q66Sql),
    QuerySpec("q67_lm_score", q67LmScore, q67Sql),
    QuerySpec("q68_profile", q68Profile, q68Sql),
    QuerySpec("q69_ffill", q69Ffill, q69Sql),
    QuerySpec("q70_chunk", q70Chunk, q70Sql),
    QuerySpec("q71_scd2", q71Scd2, q71Sql, bench = true),
    QuerySpec("q72_setops", q72SetOps, q72Sql),
    QuerySpec("q73_delta", q73Delta, q73Sql),
    QuerySpec("q74_outliers", q74Outliers, q74Sql),
    QuerySpec("q75_folds", q75Folds, q75Sql),
    QuerySpec("q76_weighted_sample", q76WeightedSample, q76Sql),
    QuerySpec("q77_entropy", q77Entropy, q77Sql),
    QuerySpec("q78_tfidf", q78Tfidf, q78Sql),
    QuerySpec("q79_binning", q79Binning, q79Sql),
    QuerySpec("q80_chi2", q80Chi2, q80Sql),
    QuerySpec("q81_corr", q81Corr, q81Sql),
    QuerySpec("q82_incr_agg", q82IncrAgg, q82Sql),
    QuerySpec("q83_approx_quantile", q83ApproxQuantile, q83Sql),
    QuerySpec("q84_funnel", q84Funnel, q84Sql),
    QuerySpec("q85_cohort", q85Cohort, q85Sql),
    QuerySpec("q86_rolling_anomaly", q86RollingAnomaly, q86Sql),
    // bench: the bounded-heap top-k, beside q11
    QuerySpec("q87_topk_native", q87TopKNative, q87Sql, bench = true),
    QuerySpec("q88_hll_merge", q88HllMerge, q88Sql),
    QuerySpec("q89_transitions", q89Transitions, q89Sql),
    QuerySpec("q90_scd_lookup", q90ScdLookup, q90Sql),
    QuerySpec("q91_cdc_merge", q91CdcMerge, q91Sql, bench = true),
    QuerySpec("q92_unpivot", q92Unpivot, q92Sql),
    QuerySpec("q93_heavy_hitters", q93HeavyHitters, q93Sql),
    QuerySpec("q94_domain_mix", q94DomainMix, q94Sql),
    QuerySpec("q95_histogram", q95Histogram, q95Sql),
    QuerySpec("q96_vocab_hh", q96VocabHeavyHitters, q96Sql),
    QuerySpec("q97_rolling_dau", q97RollingDau, q97Sql),
    QuerySpec("q98_pagerank", q98PageRank, q98Sql),
    QuerySpec("q99_fixed_sample", q99FixedSample, q99Sql),
    QuerySpec("q100_skyline", q100Skyline, q100Sql, bench = true),
    QuerySpec("q101_overlap", q101Overlap, q101Sql),
    QuerySpec("q102_snapshot_diff", q102SnapshotDiff, q102Sql),
    QuerySpec("q103_bloom_semi", q103BloomSemi, q103Sql, bench = true),
    QuerySpec("q104_hll_intersect", q104HllIntersect, q104Sql),
    QuerySpec("q105_event_paths", q105EventPaths, q105Sql),
    QuerySpec("q106_quality", q106Quality, q106Sql),
    QuerySpec("q107_jaro_winkler", q107JaroWinkler, q107Sql),
    QuerySpec("q108_inverted_index", q108InvertedIndex, q108Sql, bench = true),
    QuerySpec("q109_sample_bounded", q109SampleBounded, q109Sql),
    QuerySpec("q110_hierarchy", q110Hierarchy, q110Sql, bench = true),
    QuerySpec("q111_resample", q111Resample, q111Sql),
    QuerySpec("q112_cross_dup", q112CrossDup, q112Sql, bench = true),
    QuerySpec("q114_trend", q114Trend, q114Sql),
    QuerySpec("q113_winsorize", q113Winsorize, q113Sql),
    QuerySpec("q115_gaps", q115Gaps, q115Sql),
    QuerySpec("q116_mutual_info", q116MutualInfo, q116Sql),
    QuerySpec("q117_centroids", q117Centroids, q117Sql),
    QuerySpec("q118_brand_pairs", q118BrandPairs, q118Sql),
    QuerySpec("q119_hll_rolling_dau", q119HllRollingDau, q119Sql, bench = true),
    QuerySpec("q120_triangles", q120Triangles, q120Sql),
    QuerySpec("q121_abc", q121AbcAnalysis, q121Sql),
    QuerySpec("q122_linkage", q122Linkage, q122Sql, bench = true),
    QuerySpec("q123_bfs", q123Bfs, q123Sql),
    QuerySpec("q124_sorted_neighborhood", q124SortedNeighborhood,
      q124Sql, bench = true),
    QuerySpec("q125_top_movers", q125TopMovers, q125Sql),
    QuerySpec("q126_winsorize_group", q126WinsorizeGroup, q126Sql),
    QuerySpec("q127_novelty", q127Novelty, q127Sql),
    QuerySpec("q128_growth_curve", q128GrowthCurve, q128Sql),
    QuerySpec("q129_share_of_parent", q129ShareOfParent, q129Sql),
    QuerySpec("q130_lift", q130Lift, q130Sql),
    QuerySpec("q131_ari", q131Ari, q131Sql),
    QuerySpec("q132_roc", q132Roc, q132Sql),
    QuerySpec("q133_auc", q133Auc, q133Sql),
    QuerySpec("q134_roc_per_class", q134RocPerClass, q134Sql),
    QuerySpec("q135_regression_report", q135Regression, q135Sql),
    QuerySpec("q136_confusion", q136Confusion, q136Sql),
    // bench: the analytics surface (q137-q150)
    QuerySpec("q137_funnel", q137Funnel, q137Sql, bench = true),
    QuerySpec("q138_retention", q138Retention, q138Sql),
    QuerySpec("q139_transitions", q139Transitions, q139Sql, bench = true),
    QuerySpec("q140_mad_outliers", q140MadOutliers, q140Sql, bench = true),
    // bench: chunked time series; the chunk stitching's overhead
    // stays visible (q141, q146)
    QuerySpec("q141_twap", q141Twap, q141Sql, bench = true),
    QuerySpec("q142_golden_record", q142Golden, q142Sql),
    QuerySpec("q143_calibration", q143Calibration, q143Sql),
    QuerySpec("q144_gini", q144Gini, q144Sql, bench = true),
    QuerySpec("q145_basket", q145Basket, q145Sql, bench = true),
    QuerySpec("q146_cusum", q146Cusum, q146Sql, bench = true),
    QuerySpec("q147_approx_quantile", q147ApproxQuantile, q147Sql),
    QuerySpec("q148_gini_by_group", q148GiniByGroup, q148Sql),
    QuerySpec("q149_time_to_convert", q149TimeToConvert, q149Sql),
    QuerySpec("q150_rfm", q150Rfm, q150Sql, bench = true),
    QuerySpec("q151_rank_percentile", q151RankPercentile, q151Sql),
    QuerySpec("q152_token_mixture", q152TokenMixture, q152Sql),
    QuerySpec("q153_cluster_rep", q153ClusterRep, q153Sql),
    // bench: the curation and similarity surface (q154-q163)
    QuerySpec("q154_containment", q154Containment, q154Sql, bench = true),
    QuerySpec("q155_rank_normalize", q155RankNormalize, q155Sql),
    QuerySpec("q156_dsir", q156Dsir, q156Sql, bench = true),
    QuerySpec("q157_dup_chunks", q157DupChunks, q157Sql, bench = true),
    QuerySpec("q158_semantic_dup", q158SemanticDup, q158Sql),
    QuerySpec("q159_shards", q159Shards, q159Sql),
    QuerySpec("q160_kmeans", q160Kmeans, q160Sql, bench = true),
    QuerySpec("q161_hard_negatives", q161HardNegatives, q161Sql, bench = true),
    QuerySpec("q162_vocab_coverage", q162VocabCoverage, q162Sql),
    QuerySpec("q163_winnow", q163Winnow, q163Sql, bench = true),
    QuerySpec("q164_ann_recall", q164AnnRecall, q164Sql),
    QuerySpec("q165_corpus_health", q165CorpusHealth, q165Sql),
    QuerySpec("q166_gopher_rules", q166GopherRules, q166Sql),
    QuerySpec("q167_knn_join", q167KnnJoin, q167Sql),
    QuerySpec("q168_kanonymity", q168Kanonymity, q168Sql),
    QuerySpec("q169_skew_profile", q169SkewProfile, q169Sql),
    QuerySpec("q170_fk_discovery", q170FkDiscovery, q170Sql),
    QuerySpec("q171_psi", q171Psi, q171Sql),
    QuerySpec("q172_target_encode", q172TargetEncode, q172Sql),
    // bench: the native as-of node, beside q41's window
    QuerySpec("q173_asof_native", q173AsofNative, q173Sql, bench = true),
    QuerySpec("q174_hard_negatives_coarse", q174HardNegativesCoarse, q174Sql),
    QuerySpec("q175_bpe_encode", q175BpeEncode, q175Sql),
    // bench: BPE encode with weighted join-back and token-accurate
    // packing
    QuerySpec("q176_bpe_pack", q176BpePack, q176Sql, bench = true),
    // bench: the end-to-end curation chain
    QuerySpec("q177_curation_pipeline", q177CurationPipeline,
      q177Sql, bench = true),
    QuerySpec("q178_media_dhash", q178MediaDhash, q178Sql),
    // the streaming path must reproduce the batch point-in-time
    // answer, so it shares q90's oracle
    QuerySpec("q179_stream_scd_enrich", q179StreamScdEnrich, q90Sql),
    QuerySpec("q180_oracle_canary", q180OracleCanary, q180Sql),
    // bench: exact substring dedup (two-stage hash screen)
    QuerySpec("q181_span_dedup", q181SpanDedup, q181Sql, bench = true),
    // bench: product-quantized ANN (sub-fits + ADC scan)
    QuerySpec("q182_pq_topk", q182PqTopK, q182Sql, bench = true),
    // bench: the bigram perplexity gate
    QuerySpec("q183_perplexity", q183Perplexity, q183Sql, bench = true),
    // not benched: a stream face's wall is temp-dir and trigger
    // lifecycle, not operator cost (q184, q193)
    QuerySpec("q184_stream_neardup", q184StreamNearDupIngest, q184Sql),
    // bench: the sampled PQ fit, beside q182's full fit
    QuerySpec("q185_pq_sample", q185PqSampleTopK, q185Sql, bench = true),
    // bench: real PNG encode/decode riding the scan
    QuerySpec("q186_media_dhash_png", q186MediaDhashPng, q186Sql, bench = true),
    // bench: dedup from stored signatures, beside q23's from-text
    // form; it must reproduce that path, so it shares q23's oracle
    QuerySpec("q187_signature_dedup", q187SignatureDedup, q23Sql, bench = true),
    // bench: real WAV encode/decode riding the scan
    QuerySpec("q188_audio_energy", q188AudioEnergy, q188Sql, bench = true),
    // bench: container split + per-frame PNG decode + dHash
    QuerySpec("q189_video_frames", q189VideoFrames, q189Sql, bench = true),
    // bench: clip-level video dedup (per-frame Hamming blocking)
    QuerySpec("q190_video_dedup", q190VideoDedup, q190Sql, bench = true),
    // bench: audio near-dup through the real WAV codec
    QuerySpec("q191_audio_dedup", q191AudioDedup, q191Sql, bench = true),
    // the compacted stream face must land q41's batch answer
    QuerySpec("q192_stream_asof_compact", q192StreamAsofCompact, q192Sql),
    QuerySpec("q193_stream_decontam", q193StreamDecontamIngest, q193Sql),
    // bench: the as-of variants riding q41's merge plan
    QuerySpec("q194_asof_forward", q194AsofForward, q194Sql, bench = true),
    QuerySpec("q195_asof_tolerance", q195AsofTolerance, q195Sql, bench = true),
    // not benched: the tuner grid is constant-sized
    QuerySpec("q196_lsh_tune", q196LshTune, q196Sql),
    // bench: the source-level gate
    QuerySpec("q197_source_gate", q197SourceGate, q197Sql, bench = true),
    // bench: the native forward as-of, beside q194's window
    QuerySpec("q198_asof_fwd_native", q198AsofFwdNative, q198Sql, bench = true),
    // bench: z-order layout over the biggest fixture table
    QuerySpec("q199_zorder", q199Zorder, q199Sql, bench = true),
    QuerySpec("q200_zorder3", q200Zorder3, q200Sql, bench = true),
    // bench: the overflow-guarded wide-span z-order; the guard's
    // shifts stay visibly free
    QuerySpec("q201_zorder_wide", q201ZorderWide, q201Sql, bench = true),
    // bench: the signature-store fetch path, beside q187's semi
    // join and q23's from-text form (all three share q23's oracle)
    QuerySpec("q202_sigfetch_dedup", q202SigFetchDedup, q23Sql, bench = true),
    // bench: both cubes' whole member space in one grouping-sets
    // pass
    QuerySpec("q203_cube_serve", q203CubeServe, q203Sql, bench = true),
    // bench: the BandIndex point-lookup face, beside q202's scan
    QuerySpec("q204_sigindex_dedup", q204SigIndexDedup, q23Sql, bench = true),
    // bench: cheap aggregates, benched so regressions show
    QuerySpec("q205_attribution", q205Attribution, q205Sql, bench = true),
    QuerySpec("q206_ab_welch", q206AbWelch, q206Sql, bench = true),
    // bench: incremental cube maintenance, beside q203's recompute
    QuerySpec("q207_cube_incr", q207CubeIncr, q207Sql, bench = true),
    // bench: the periodic-snapshot fact
    QuerySpec("q208_snapshot_grid", q208SnapshotGrid, q208Sql, bench = true),
    // bench: top-k per cube member (grouping sets x bounded heap)
    QuerySpec("q209_cube_topk", q209CubeTopK, q209Sql, bench = true),
    // bench: the accumulating-snapshot fact
    QuerySpec("q210_accum_snapshot", q210AccumSnapshot, q210Sql, bench = true),
    // bench: time-decay attribution (q205's join, no windows)
    QuerySpec("q211_time_decay", q211TimeDecay, q211Sql, bench = true),
    // bench: semi-additive snapshot aggregation
    QuerySpec("q212_semi_additive", q212SemiAdditive, q212Sql, bench = true),
    // bench: weighted bridge allocation (exact integer credits)
    QuerySpec("q213_bridge_alloc", q213BridgeAlloc, q213Sql, bench = true),
    QuerySpec("q214_agg_nav", q214AggNav, q214Sql, bench = true),
    QuerySpec("q215_view_refresh", q215ViewRefresh, q215Sql, bench = true),
    QuerySpec("q216_late_dim", q216LateDim, q216Sql, bench = true),
    QuerySpec("q217_agg_refresh", q217AggRefresh, q217Sql, bench = true),
    QuerySpec("q218_nav_sets", q218NavSets, q218Sql, bench = true),
    // bench: cross-cube drill-across
    QuerySpec("q219_drill_across", q219DrillAcross, q219Sql, bench = true),
    // bench: drill-across from the navigator, beside q219, so
    // the registry build's fixed cost shows against the fact scans
    QuerySpec("q220_drill_navigated", q220DrillNavigated,
      q220Sql, bench = true),
    QuerySpec("q221_drill_across3", q221DrillAcross3, q221Sql, bench = true),
    QuerySpec("q222_agg_advisor", q222AggAdvisor, q222Sql, bench = true),
    QuerySpec("q223_drill_through", q223DrillThrough, q223Sql, bench = true),
    QuerySpec("q224_closure_rollup", q224ClosureRollup, q224Sql, bench = true),
    // bench: the budget advisor; the driver-side greedy stays
    // visibly free beside q222
    QuerySpec("q225_agg_budget", q225AggBudget, q225Sql, bench = true),
    // bench: incremental closure maintenance, beside q224's
    // rebuild
    QuerySpec("q226_closure_move", q226ClosureMove, q226Sql, bench = true),
    // bench: the full incremental closure lifecycle
    QuerySpec("q227_closure_ops", q227ClosureOps, q227Sql, bench = true),
    // bench: the JSON wire path
    QuerySpec("q228_cube_json", q228CubeJson, q228Sql, bench = true),
    // bench: the text faces (MDX, and q230's SQL view) beside
    // q203's direct member space
    QuerySpec("q229_mdx", q229Mdx, q229Sql, bench = true),
    QuerySpec("q230_cube_sql", q230CubeSql, q230Sql, bench = true),
    // bench: MDX set union lowered to one grouping-sets pass
    QuerySpec("q231_mdx_sets", q231MdxSets, q231Sql, bench = true),
    // bench: the WITH MEMBER post-agg projection
    QuerySpec("q232_mdx_calc", q232MdxCalc, q232Sql, bench = true),
    QuerySpec("q233_mdx_nonempty", q233MdxNonempty, q233Sql),
    QuerySpec("q234_mdx_members", q234MdxMembers, q234Sql),
    // bench: TOPCOUNT stays a TakeOrdered decoration
    QuerySpec("q235_mdx_topcount", q235MdxTopcount, q235Sql, bench = true),
    QuerySpec("q236_mdx_filter_order", q236MdxFilterOrder, q236Sql),
    QuerySpec("q237_mdx_drillthrough", q237MdxDrillthrough, q237Sql),
    // bench: the SQL-to-rollup rewrite, beside q214's navigator
    QuerySpec("q238_agg_route", q238AggRoute, q238Sql, bench = true),
    // bench: the routed sliced drill stays dim-sized
    QuerySpec("q239_mdx_routed_slicer", q239MdxRoutedSlicer,
      q239Sql, bench = true),
  )

  /** The names in the comma-separated list `csv`, in order: the one
    * name filter behind Verify's `SPARK_GRAFT_ONLY`, Bench's
    * `SPARK_GRAFT_BENCH_ONLY` and the tools' query arguments. A name
    * outside `known` fails, listed under `label`, so a typo never
    * silently selects nothing and fails before any session exists. */
  private[graft] def names(label: String, csv: String,
      known: Iterable[String]): Seq[String] = {
    val picked = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val unknown = picked.toSet -- known
    require(unknown.isEmpty,
      s"$label names unknown: ${unknown.toSeq.sorted.mkString(", ")}")
    picked
  }

  /** The names the environment variable `envVar` selects out of
    * `known`; None when it is unset. */
  private[graft] def onlyNames(envVar: String, known: Iterable[String],
      env: Map[String, String] = sys.env): Option[Set[String]] =
    env.get(envVar).map(names(envVar, _, known).toSet)
}
