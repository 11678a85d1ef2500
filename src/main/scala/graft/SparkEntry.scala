package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.pipeline.Medallion
import graft.operators.{Analytics, Relations, Temporal}
import graft.ml.Sampling
import graft.lake.Upsert
import graft.text.{SparseSim, TextDedup, TextStats}
import graft.ml.Similarity

/** Driver contract — every implemented operator from SURVEY.md §2 appears in
  * `queries`, with a DuckDB-equivalent in `oracleSql` where SQL-expressible.
  *
  * Cross-engine determinism rules (see SURVEY §7 risks):
  *  - timestamps compared as epoch-µs longs or dates (DuckDB truncates the
  *    parquet ns column to µs on read; we floor-divide the nanos long);
  *  - money sums go through DECIMAL(18,2) then cast to double → bit-stable
  *    under any partitioning, identical in both engines;
  *  - every top-k has a unique tiebreaker column.
  */
object SparkEntry {

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** The simhash near-dup pair graph over the documents — the graph
    * q50 reports, q60/q118/q217 group, q95/q152 remove against, and
    * q158/q200 audit. Built per call: each gate computes from its own
    * inputs, so no gate's timing includes another gate's cached work.
    */
  private def simhashPairs(s: SparkSession, d: String): DataFrame =
    TextDedup.simhashNearDupPairs(Tables.documentsSpread(s, d),
      "doc_id", "text")

  /** The q248/q254/q257 directed part-succession graph — next-line
    * part transitions within an order, capped to parts ≤ 500.
    * l_linenumber is NOT unique per order in this testdata; the
    * (linenumber, partkey, suppkey) triple is the unique tiebreaker
    * (the standing window rule — without it the edge SET itself is
    * nondeterministic and no oracle can match).
    */
  private def sccLineitemEdges(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber").asc, col("l_partkey").asc,
        col("l_suppkey").asc)
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"))
      .withColumn("__next", lead(col("l_partkey"), 1).over(w))
      .filter(col("__next").isNotNull &&
        col("l_partkey") <= 500 && col("__next") <= 500 &&
        col("l_partkey") =!= col("__next"))
      .select(col("l_partkey").as("src"), col("__next").as("dst"))
  }

  /** The item co-occurrence edge list (parts sharing an order, both
    * directions) — the ONE graph all six graph-family gates analyze
    * (q94 PageRank, q101 triangles, q147 label propagation, q162 k-core,
    * q173 BFS, q226 HyperBall). DISTINCT: every consumer dedupes
    * internally (multiplicity-insensitive by contract), so the canonical
    * edge SET is the common denominator and every operator's first
    * exchange shuffles the set (2.4 M rows at sf0.1), not the ~18 M-row
    * per-order pair stream. Built per call like every gate input: each
    * operator consumes it exactly once, into the adjacency it persists
    * itself.
    */
  private def itemCoEdges(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
  }

  /** The parsed silver orders table q43/q44 each build and consume
    * once.
    */
  private def silverOrdersParsed(s: SparkSession, d: String): DataFrame =
    pipeline.OrderEvents.parse(
      pipeline.BronzeFixtures.ordersBronze(Tables.orders(s, d),
        Tables.lineitem(s, d)))

  /** The q147 label-propagation oracle, generated per round (the
    * bpeOracleSql convention): each round counts in-neighbor labels and
    * takes the (count desc, label asc) plurality winner per node —
    * exactly the operator's max-of-(count, −label)-struct vote.
    */
  private def labelPropOracle(rounds: Int): String = {
    val b = new StringBuilder(
      """WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         nodes AS (SELECT DISTINCT src AS node FROM e),
         l0 AS (SELECT node, node AS lab FROM nodes)""")
    for (i <- 1 to rounds) {
      b.append(s""",
         m$i AS (SELECT e.dst AS node, l.lab, COUNT(*) AS c
                 FROM e JOIN l${i - 1} l ON l.node = e.src GROUP BY 1, 2),
         w$i AS (SELECT node, lab, row_number() OVER (PARTITION BY node
                   ORDER BY c DESC, lab) AS rn FROM m$i),
         l$i AS (SELECT n.node, COALESCE(w.lab, p.lab) AS lab FROM nodes n
                 LEFT JOIN (SELECT node, lab FROM w$i WHERE rn = 1) w
                   ON w.node = n.node
                 JOIN l${i - 1} p ON p.node = n.node)""")
    }
    b.append(s"\n         SELECT node, lab AS label FROM l$rounds")
    b.toString
  }

  /** q162's generated k-core oracle: one degree-filter CTE pair per
    * peeling round over the same co-occurrence edge set as q147. Round 1
    * filters raw in-degrees; round i ≥ 2 recounts within the previous
    * survivor set (the operator's exact loop).
    */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val b = new StringBuilder(
      s"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         a1 AS (SELECT dst AS node, COUNT(*) AS deg FROM e
                GROUP BY 1 HAVING COUNT(*) >= $k)""")
    for (i <- 2 to rounds) {
      b.append(s""",
         a$i AS (SELECT e.dst AS node, COUNT(*) AS deg FROM e
                 JOIN a${i - 1} s ON s.node = e.src
                 JOIN a${i - 1} t ON t.node = e.dst
                 GROUP BY 1 HAVING COUNT(*) >= $k)""")
    }
    b.append(s"\n         SELECT node, deg AS core_deg FROM a$rounds")
    b.toString
  }

  /** q165's generated oracle: per-source HLL registers over 3-gram
    * shingles, the q100 estimator replay, then register-max union and
    * inclusion–exclusion per source pair — the operator's exact integer
    * pipeline with the same alpha/m literals.
    */
  private def hllOverlapOracle(p: Int): String = {
    val m = 1L << p
    val alphaFp = 7213L * m * m * m / (10000L * m + 10790L)
    val num = alphaFp * (1L << 40)
    val pow40 = 1L << 40
    s"""WITH docs AS (SELECT source, string_split(text, ' ') AS w FROM documents),
         shg AS (SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
                FROM docs, UNNEST(range(1, len(w) - 1)) t(i)),
         h AS (SELECT source, CAST(('0x' || substr(md5('hll-' || s), 1, 15)) AS BIGINT) AS h FROM shg),
         r AS (SELECT source, h & ${m - 1} AS bucket,
                 MAX(${61 - p} - length(ltrim(bin(h >> $p), '0'))) AS max_rho
               FROM h GROUP BY 1, 2),
         g AS (SELECT source, SUM(CAST($pow40 AS BIGINT) >> max_rho) AS ps,
                 COUNT(*) AS pr FROM r GROUP BY 1),
         est AS (SELECT source,
                   CAST($num // greatest(ps + ($m - pr) * $pow40, 1) AS BIGINT) AS e
                 FROM g),
         pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                     a.e AS est_a, b.e AS est_b
                   FROM est a JOIN est b ON a.source < b.source),
         ur AS (SELECT p.source_a, p.source_b, r.bucket, r.max_rho
                FROM pairs p JOIN r ON r.source = p.source_a
                UNION ALL
                SELECT p.source_a, p.source_b, r.bucket, r.max_rho
                FROM pairs p JOIN r ON r.source = p.source_b),
         um AS (SELECT source_a, source_b, bucket, MAX(max_rho) AS max_rho
                FROM ur GROUP BY 1, 2, 3),
         ug AS (SELECT source_a, source_b,
                  SUM(CAST($pow40 AS BIGINT) >> max_rho) AS ps, COUNT(*) AS pr
                FROM um GROUP BY 1, 2),
         ue AS (SELECT source_a, source_b,
                  CAST($num // greatest(ps + ($m - pr) * $pow40, 1) AS BIGINT)
                    AS est_union
                FROM ug)
         SELECT p.source_a, p.source_b, p.est_a, p.est_b, ue.est_union,
           greatest(p.est_a + p.est_b - ue.est_union, 0) AS est_overlap
         FROM pairs p JOIN ue USING (source_a, source_b)"""
  }

  /** The bit-stable cosine between two DuckDB list expressions — the
    * exact q25/q71 formula, parameterized for generated oracles.
    */
  private def cosSql(a: String, b: String): String =
    s"""(list_reduce(list_transform(list_zip($a, $b),
        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)
      / (sqrt(list_reduce(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))
       * sqrt(list_reduce(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))))"""

  /** The q149 MMR oracle, one generated stage per selection step: stage i
    * cross-joins the candidates (picked ids excluded) against the i−1
    * single-row picks, takes MAX(cosine) as the diversity penalty, and
    * re-picks by (0.5·rel − 0.5·pen desc, vec_id) — the operator's
    * greatest-of-cosines + TakeOrdered. (Scalar-subquery GREATEST forms
    * of the same stages plan catastrophically in DuckDB — the join+MAX
    * shape is equivalent and linear.)
    */
  private def mmrOracleSql(k: Int): String = {
    val b = new StringBuilder(
      s"""WITH q AS MATERIALIZED (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         rel AS MATERIALIZED (SELECT vec_id, embedding AS emb,
                   ${cosSql("embedding", "(SELECT qe FROM q)")} AS rel
                 FROM embeddings WHERE vec_id > 0),
         s1 AS (SELECT vec_id, emb, rel, CAST(NULL AS DOUBLE) AS pen,
                  0.5 * rel AS mmr
                FROM rel ORDER BY 0.5 * rel DESC, vec_id LIMIT 1)""")
    for (i <- 2 to k) {
      val sel = (1 until i).map(j => s"SELECT vec_id, emb FROM s$j")
        .mkString(" UNION ALL ")
      b.append(s""",
         p$i AS (SELECT r.vec_id, MAX(${cosSql("r.emb", "s.emb")}) AS pen
                 FROM rel r, ($sel) s
                 WHERE r.vec_id NOT IN (SELECT vec_id FROM ($sel))
                 GROUP BY r.vec_id),
         s$i AS (SELECT r.vec_id, r.emb, r.rel, p.pen,
                   0.5 * r.rel - 0.5 * p.pen AS mmr
                 FROM p$i p JOIN rel r ON r.vec_id = p.vec_id
                 ORDER BY 0.5 * r.rel - 0.5 * p.pen DESC, r.vec_id LIMIT 1)""")
    }
    b.append("\n         " + (1 to k).map { i =>
      val head = if (i == 1) s"SELECT CAST($i AS INTEGER) AS rank, "
                 else s"UNION ALL SELECT CAST($i AS INTEGER), "
      head + s"vec_id, rel AS relevance, pen AS penalty, mmr FROM s$i"
    }.mkString("\n         "))
    b.toString
  }

  /** The q153 CDC chunk table in SQL — boundary rule, bounds, text and
    * hash — ending in a `chunks` CTE; q153 selects it, q154 rolls a
    * keep-first dedup over it.
    */
  private val cdcChunksCte: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         b AS (SELECT doc_id, w, len(w) AS t FROM d),
         bp AS (SELECT doc_id, w, t,
             list_prepend(CAST(1 AS BIGINT), CASE WHEN t >= 4 THEN
               list_filter(range(2, t - 1), i ->
                 ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT
                   % 8 = 0)
               ELSE CAST([] AS BIGINT[]) END) AS s
           FROM b),
         c AS (SELECT doc_id, w, t, s, CAST(u.j AS INTEGER) AS chunk_idx
               FROM bp, UNNEST(range(1, len(s) + 1)) u(j)),
         r AS (SELECT doc_id, chunk_idx, s[chunk_idx] AS chunk_start,
                 CASE WHEN chunk_idx < len(s) THEN s[chunk_idx + 1] - 1
                      ELSE t END AS e,
                 w FROM c),
         chunks AS (SELECT doc_id, chunk_idx, chunk_start,
                 e - chunk_start + 1 AS n_chunk_tokens,
                 array_to_string(w[chunk_start:e], ' ') AS chunk_text,
                 ('0x' || substr(md5(array_to_string(w[chunk_start:e], ' ')), 1, 15))::BIGINT
                   AS chunk_hash
               FROM r)"""

  /** The q124 BPE oracle, GENERATED per merge stage (the mortonOracleSql
    * convention: one template, unrolled): each stage counts adjacent
    * symbol pairs weighted by word frequency, picks the (count desc, l,
    * r) winner, and applies it with the greedy-left semantics expressed
    * in windows — a maximal run of consecutive match positions (possible
    * only when l = r) merges at ODD in-run ranks, which is exactly the
    * leftmost-first scan; the merged symbol replaces the chosen
    * position, the following position is consumed.
    */
  private def bpeOracleSql(numMerges: Int,
                           finalOverride: Option[String] = None): String = {
    val stages = (1 to numMerges).map { n =>
      val in = s"s${n - 1}"
      s"""p$n AS (SELECT sym[i] AS l, sym[i + 1] AS r, SUM(f) AS cnt
              FROM $in, UNNEST(range(1, len(sym))) t(i) GROUP BY 1, 2),
         m$n AS (SELECT l, r, CAST(cnt AS BIGINT) AS cnt FROM p$n
                 ORDER BY cnt DESC, l, r LIMIT 1),
         e$n AS (SELECT w, f, CAST(t.i AS INTEGER) AS pos,
                   sym[CAST(t.i AS INTEGER)] AS s
                 FROM $in, UNNEST(range(1, len(sym) + 1)) t(i)),
         c$n AS (SELECT *, lead(s) OVER (PARTITION BY w ORDER BY pos) AS ns
                 FROM e$n),
         d$n AS (SELECT *, COALESCE(s = (SELECT l FROM m$n)
                   AND ns = (SELECT r FROM m$n), false) AS cand FROM c$n),
         i$n AS (SELECT *, CASE WHEN cand THEN pos - row_number()
                   OVER (PARTITION BY w, cand ORDER BY pos) END AS isl
                 FROM d$n),
         j$n AS (SELECT *, CASE WHEN cand THEN row_number()
                   OVER (PARTITION BY w, isl ORDER BY pos) END AS rk
                 FROM i$n),
         k$n AS (SELECT *, COALESCE(cand AND rk % 2 = 1, false) AS chosen
                 FROM j$n),
         g$n AS (SELECT *, COALESCE(lag(chosen)
                   OVER (PARTITION BY w ORDER BY pos), false) AS consumed
                 FROM k$n),
         s$n AS (SELECT w, f,
                   list(CASE WHEN chosen THEN s || ns ELSE s END
                     ORDER BY pos) AS sym
                 FROM g$n WHERE NOT consumed GROUP BY w, f)"""
    }.mkString(",\n         ")
    val finals = finalOverride.getOrElse(
      (1 to numMerges).map { n =>
        val head = if (n == 1) s"SELECT CAST($n AS INTEGER) AS step, "
                   else s"UNION ALL SELECT CAST($n AS INTEGER), "
        head + s"l AS merge_left, r AS merge_right, l || r AS merged, " +
          s"cnt AS pair_count FROM m$n"
      }.mkString("\n         "))
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         w0 AS (SELECT w, COUNT(*) AS f FROM tok WHERE length(w) > 0
                GROUP BY w),
         s0 AS (SELECT w, f, list_transform(generate_series(1, length(w)),
                  i -> substr(w, i, 1)) AS sym FROM w0),
         $stages
         $finals"""
  }

  /** The q50 simhash pair graph rebuilt in SQL, through the q60 recursive
    * min-label reachability — shared CTE prefix of every oracle that
    * consumes components (q60 labels them, q118 histograms their sizes).
    * Ends after the `reach` CTE; append either a final SELECT or further
    * CTEs (`, name AS (…)`).
    */
  private val simhashComponentsCte: String =
    """WITH RECURSIVE tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM tok),
         bits AS (SELECT doc_id, b, SUM(2 * ((h >> b) & 1) - 1) AS s
                  FROM h, UNNEST(range(0, 60)) t(b) GROUP BY 1, 2),
         sh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
           FROM bits GROUP BY doc_id),
         pairs AS (SELECT x.doc_id AS pa, y.doc_id AS pb
                   FROM sh x JOIN sh y ON x.doc_id < y.doc_id
                   WHERE bit_count(xor(x.simhash, y.simhash)) <= 3),
         e AS (SELECT pa AS src, pb AS dst FROM pairs
               UNION ALL SELECT pb, pa FROM pairs),
         n AS (SELECT DISTINCT src AS node FROM e),
         reach(node, lab) AS (
           SELECT node, node FROM n
           UNION
           SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node)"""

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.configure(spark)
    Medallion.salesMinute(Tables.events(spark, "/root/testdata/sf0.001"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- medallion pipeline (SURVEY §2.11 Q1–Q12) ----
    "q01_bronze_project" -> ((s, d) => Medallion.bronzeProject(Tables.events(s, d))),
    "q02_dedup_latest" -> ((s, d) =>
      Medallion.dedupLatest(Tables.events(s, d))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))),
    "q03_parse_props" -> ((s, d) => Medallion.parseProps(Tables.events(s, d))),
    "q04_user_spend" -> ((s, d) =>
      Tables.events(s, d).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(Medallion.moneySum(col("value")).as("paid_amount"),
             max(col("event_ts_us")).as("last_purchase_us"),
             count(lit(1)).as("n_purchases"))),
    "q05_enrich" -> ((s, d) =>
      Medallion.enrich(Tables.orders(s, d), Tables.lineitem(s, d))
        .select(col("order_id"), col("user_id"), col("total_amount"),
                col("paid_amount"), col("fully_paid"))),
    "q06_enrich_view" -> ((s, d) =>
      Medallion.enrichView(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q07_fct_sales_minute" -> ((s, d) => Medallion.salesMinute(Tables.events(s, d))),
    "q08_sales_minute_incr" -> ((s, d) =>
      Medallion.salesMinuteIncremental(Tables.events(s, d), 7200000000L)),
    "q09_sales_last_60min" -> ((s, d) =>
      Medallion.salesLastNMinutes(Tables.events(s, d), 60)),
    "q10_upsert_idempotent" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("event_ts_us"), col("value"))
      val target = ev.filter(col("event_id") % 3 === 0)
      val source = ev.filter(col("event_id") % 2 === 0)
      val once = Upsert.merge(target, source, Seq("event_id"), Seq("event_ts_us", "event_id"))
      Upsert.merge(once, source, Seq("event_id"), Seq("event_ts_us", "event_id"))
    }),
    "q11_freshness" -> ((s, d) => Medallion.freshness(Tables.events(s, d))),
    "q12_top_minutes" -> ((s, d) => Medallion.topMinutes(Tables.events(s, d), 10)),
    // ---- relational analytics (SURVEY §2.3–§2.7) ----
    "q13_pricing_summary" -> ((s, d) => Analytics.pricingSummary(Tables.lineitem(s, d))),
    "q14_revenue_by_region" -> ((s, d) =>
      Analytics.revenueByRegion(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q15_top_customers" -> ((s, d) =>
      Analytics.topCustomers(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), 10)),
    "q16_running_spend" -> ((s, d) => Analytics.runningSpend(Tables.events(s, d))),
    "q17_part_rank" -> ((s, d) => Analytics.partPriceRank(Tables.part(s, d))),
    "q18_status_diff" -> ((s, d) => Analytics.statusCustkeyDiff(Tables.orders(s, d))),
    "q19_event_pivot" -> ((s, d) => Analytics.eventPivot(Tables.events(s, d), eventTypes)),
    "q20_lineitem_unpivot" -> ((s, d) => Analytics.lineitemUnpivot(Tables.lineitem(s, d))),
    "q21_minute_spine" -> ((s, d) => Analytics.minuteSpine(Tables.events(s, d))),
    "q22_hash_keys" -> ((s, d) => Analytics.hashKeys(Tables.events(s, d))),
    "q23_acctbal_histogram" -> ((s, d) => Analytics.acctbalHistogram(Tables.customer(s, d))),
    // ---- LLM-data-pipeline operators over documents/embeddings ----
    "q24_neardup_pairs" -> ((s, d) =>
      TextDedup.nearDupPairs(Tables.documentsSpread(s, d), "doc_id", "text")),
    "q25_ann_topk" -> ((s, d) => {
      val em = Tables.embeddingsSpread(s, d)
      Similarity.annTopK(em.filter(col("vec_id") >= 10), em.filter(col("vec_id") < 10), 5)
    }),
    "q26_text_stats" -> ((s, d) => TextStats.corpusStats(Tables.documents(s, d))),
    "q27_doc_dedup" -> ((s, d) =>
      TextDedup.exactDedupSummary(Tables.documents(s, d), "doc_id", "text")),
    "q28_item_grain" -> ((s, d) => Analytics.itemGrain(Tables.lineitem(s, d))),
    "q29_simhash" -> ((s, d) =>
      TextDedup.simhash(Tables.documentsSpread(s, d), "doc_id", "text")),
    "q30_doc_quality" -> ((s, d) =>
      TextStats.docQuality(
        Tables.documentsSpread(s, d).filter(col("text").contains("spark")))),
    "q31_fingerprint" -> ((s, d) =>
      TextDedup.fingerprint(Tables.documentsSpread(s, d), "doc_id", "text")),
    // ---- relation utilities, scalars, quality (SURVEY U1/O3/F-string/F-math/A5/W4) ----
    "q32_union_relations" -> ((s, d) => Relations.unionRelations(Seq(
      "orders" -> Tables.orders(s, d).select(
        col("o_orderkey").as("order_id"), col("o_totalprice").as("amount"),
        col("o_orderstatus").as("status")),
      "lineitem" -> Tables.lineitem(s, d).select(
        col("l_orderkey").as("order_id"), col("l_extendedprice").as("amount"),
        col("l_linenumber").as("line_no"))))),
    "q33_url_parse" -> ((s, d) => {
      val url = concat(lit("https://"), col("source"), lit(".example.com/docs/"),
        col("doc_id"), lit("?lang="), col("lang"))
      Tables.documents(s, d).select(col("doc_id"), url.as("url"),
        Relations.urlHost(url).as("host"), Relations.urlPath(url).as("path"),
        Relations.urlParameter(url, "lang").as("lang_param"))
    }),
    "q34_haversine" -> ((s, d) => {
      val n = Tables.nation(s, d)
      n.select(col("n_nationkey"),
        round(Relations.haversineKm(
          col("n_nationkey") * 7 - 84, col("n_nationkey") * 13 - 150,
          col("n_regionkey") * 30 - 60, col("n_regionkey") * 40 - 100), 3).as("km"))
    }),
    "q35_pagination" -> ((s, d) => Relations.paginate(
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      Seq(col("o_orderkey")), 100, 20)),
    "q36_minute_gaps" -> ((s, d) => Analytics.minuteGaps(Tables.events(s, d))),
    "q37_quality_report" -> ((s, d) =>
      graft.quality.Checks.qualityReport(Tables.events(s, d))),
    // S7: view registration + the SQL entry point — the Trino
    // CREATE OR REPLACE VIEW flavor (trino_bootstrap_views.py:54-72)
    // consumed through spark.sql.
    "q38_enrich_via_view" -> ((s, d) => {
      Medallion.enrichView(Tables.orders(s, d), Tables.lineitem(s, d))
        .createOrReplaceTempView("order_payments_enriched")
      s.sql("""SELECT order_id, order_status, total_amount, paid_amount, event_date
               FROM order_payments_enriched WHERE fully_paid""")
    }),
    "q39_revenue_rollup" -> ((s, d) =>
      Analytics.revenueRollup(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q40_event_reach" -> ((s, d) => Analytics.eventReach(Tables.events(s, d))),
    "q41_column_values" -> ((s, d) =>
      Analytics.columnValues(Tables.documents(s, d), "source", 20)),
    "q42_embedding_dup_pairs" -> ((s, d) =>
      Similarity.cosineDupPairsBucketed(Tables.embeddingsSpread(s, d), 0.3)),
    // ---- the REAL silver parses, oracle-gated end-to-end (P2, S4/W1,
    // F-json): bronze is synthesized deterministically from TPC-H columns
    // (BronzeFixtures), so DuckDB can reconstruct the expected flattened
    // output directly — proving dedup + permissive nested parse lossless.
    "q43_silver_orders_parse" -> ((s, d) => {
      val parsed = silverOrdersParsed(s, d)
      parsed.select(
        col("topic"),
        col("partition").as("kafka_partition"),
        col("offset").as("kafka_offset"),
        unix_micros(col("kafka_timestamp").cast("timestamp")).as("kafka_ts_us"),
        col("event_type"), col("order_id"), col("user_id"),
        size(col("items")).as("n_items"),
        col("currency"), col("total_amount"), col("status"),
        col("event_time"), col("event_id"), col("ingest_ts"),
        unix_micros(col("event_ts").cast("timestamp")).as("event_ts_us"),
        col("event_date"))
    }),
    "q44_silver_items_exploded" -> ((s, d) =>
      silverOrdersParsed(s, d)
        .select(col("order_id"), posexplode(col("items")))
        .select(col("order_id"), col("pos"),
          col("col.product_id").as("product_id"),
          col("col.qty").as("qty"),
          col("col.price").as("price"))),
    "q45_silver_payments_parse" -> ((s, d) => {
      val parsed = pipeline.PaymentEvents.parse(
        pipeline.BronzeFixtures.paymentsBronze(Tables.orders(s, d)))
      parsed.select(
        col("partition").as("kafka_partition"),
        col("offset").as("kafka_offset"),
        unix_micros(col("kafka_timestamp").cast("timestamp")).as("kafka_ts_us"),
        col("order_id"), col("amount"), col("currency"), col("status"),
        col("method"), col("event_time"), col("ingest_ts"),
        col("event_id"), col("payment_id"),
        unix_micros(col("event_ts").cast("timestamp")).as("event_ts_us"),
        col("event_date"))
    }),
    // P8 ILIKE parity (products.py:28-29): the term is deliberately
    // upper-cased — a case-SENSITIVE contains would match nothing on the
    // lowercase corpus, so this gate distinguishes ILIKE from LIKE.
    "q46_ilike_filter" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(Relations.ilikeContains(col("text"), "SPARK"))
        .select(col("doc_id"), col("lang"), col("source"))),
    // S6/DDL + partition pruning, correctness-gated: write events
    // partitioned by event_date via the catalog, read back through
    // spark.table, and aggregate ONE day — the scan must prune to a single
    // partition directory (PartitionFilters asserted in PlanSpec).
    "q47_partitioned_day_scan" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"), col("value"), col("event_date"))
      val loc = s"/tmp/graft_q47/${new java.io.File(d).getName}"
      lake.Catalog.writePartitionedTable(s, ev, "graft_q47_events", loc, "event_date")
      partitionedDayScan(s)
    }),
    // Token counting both ways (LLM corpus budgeting): whitespace tokens
    // and BPE-ish subword segments per document, one scan, row-local.
    "q48_token_counts" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextStats.tokenCount(col("text")).as("ws_tokens"),
        TextStats.subwordCount(col("text")).as("subword_tokens"))),
    // n-gram language-ID (char-trigram profile scoring) — one scan,
    // row-local; scores are exact int/int double division in both engines.
    "q49_lang_id_ngram" -> ((s, d) =>
      // lang_pred is a threshold over en_score: compute the trigram score
      // once and derive the label from the projected column (CollapseProject
      // keeps the two-step shape — it refuses to duplicate the non-cheap
      // score expression into both consumers).
      Tables.documentsSpread(s, d).filter(length(col("text")) >= 3).select(
        col("doc_id"),
        TextStats.trigramEnScore(col("text")).as("en_score"))
      .select(col("doc_id"), col("en_score"),
        TextStats.langIdFromTrigramScore(col("en_score")).as("lang_pred"))),
    // SimHash as a full dedup operator: banded candidates (exact recall
    // for hamming <= bands-1 by pigeonhole) + bit_count verify; the
    // oracle is the all-pairs hamming join, so recall is gate-checked.
    "q50_simhash_neardup" -> ((s, d) => simhashPairs(s, d)),
    // IVF ANN, oracle-gated end-to-end: centroids are md5-derived literals
    // (the q42 scheme), so DuckDB reproduces cell assignment, nProbe
    // routing, and the final cosine ranking bit-for-bit.
    "q51_ann_ivf" -> ((s, d) => {
      val em = Tables.embeddingsSpread(s, d)
      Similarity.annTopKIvf(em.filter(col("vec_id") >= 10),
        em.filter(col("vec_id") < 10), 5)
    }),
    // Sign-LSH ANN, oracle-gated the same way (buckets + candidates +
    // ranking reproduced in DuckDB) — with q25/q51 this hash-gates every
    // ANN path: exact, IVF, and LSH.
    "q52_ann_lsh" -> ((s, d) => {
      val em = Tables.embeddingsSpread(s, d)
      Similarity.annTopKLsh(em.filter(col("vec_id") >= 10),
        em.filter(col("vec_id") < 10), 5, planes = 6, tables = 3)
    }),
    // Multimodal frame-sampling grain, oracle-gated: document text rides
    // as the opaque binary payload (ASCII corpus → byte slice ≡ char
    // substr), Multimodal.sampleFrames slices it into 4 frames, and the
    // oracle reproduces the slice arithmetic with integer division. The
    // codec stays a stub; the GRAIN (one row per sampled frame with exact
    // boundaries) is the contract this gate locks.
    "q53_frame_sample" -> ((s, d) => {
      import s.implicits._
      // Guard the byte-slice ≡ char-substr equivalence EXPLICITLY rather
      // than relying on the current corpus: only ASCII docs (octet length
      // = char length) with at least one byte per frame qualify — both
      // filters mirrored in the oracle.
      val media = Tables.documentsSpread(s, d)
        .filter(length(col("text")) >= 4 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, t) =>
        graft.multimodal.Multimodal.MediaRow(id, "video",
          t.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          width = 0, height = 0, sample_rate = 0, duration_ms = 0, format = "txt")
      }
      graft.multimodal.Multimodal.sampleFrames(media, 4)
        .select(col("media_id"), col("frame_idx"),
          col("frame_bytes").cast("string").as("frame_text"))
    }),
    // ---- round 5: temporal, sampling, packing, clustering operators ----
    // Backward as-of join: most recent click at or before each purchase,
    // per user. Spark side is the union+window single-shuffle form
    // (Temporal.asofJoin); the oracle is the quadratic inequality-join
    // formulation, feasible at sf0.01 — equality proves the window form
    // implements true as-of semantics. Null user_ids are filtered on both
    // sides (window partitioning would group them; joins drop them).
    "q54_asof_join" -> ((s, d) => {
      val (purchases, clicks) = asofFixture(s, d)
      Temporal.asofJoin(purchases, clicks, Seq("user_id"),
          "purchase_ts_us", "click_ts_us", Seq("click_id"),
          Seq("click_id", "click_ts_us"))
        .withColumn("us_since_click",
          col("purchase_ts_us") - col("click_ts_us"))
    }),
    // Range join on overlapping price bands — bucketed equi-join, never a
    // nested-loop theta join (PlanSpec asserts the plan shape).
    "q55_range_join_bands" -> ((s, d) => {
      val bands = s.createDataFrame(Seq(
        (1, 0.0, 50000.0), (2, 25000.0, 100000.0),
        (3, 75000.0, 200000.0), (4, 150000.0, 600000.0)))
        .toDF("band_id", "lo", "hi")
      Relations.rangeJoinBucketed(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
          "o_totalprice", bands, "lo", "hi", 25000.0)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_orders"),
             Medallion.moneySum(col("o_totalprice")).as("total_amount"))
    }),
    // Gap-based sessionization (30 min) over the raw event stream.
    "q56_sessionize" -> ((s, d) =>
      Temporal.sessionize(
        Tables.events(s, d).select(col("user_id"), col("event_id"),
          col("event_ts_us")),
        Seq("user_id"), "event_ts_us", Seq("event_id"), 1800000000L)),
    // Deterministic train/validation/test split by salted md5 of doc_id —
    // stable under reruns and appends, reproduced exactly by the oracle.
    "q57_hash_split" -> ((s, d) =>
      Sampling.hashSplit(Tables.documents(s, d).select(col("doc_id")),
        col("doc_id"), "split-",
        Seq("train" -> 80, "validation" -> 10, "test" -> 10))),
    // Deterministic stratified sample: 5 docs per (lang, source) stratum
    // by salted-hash rank.
    "q58_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedSample(
        Tables.documents(s, d).select(col("lang"), col("source"), col("doc_id")),
        Seq("lang", "source"), col("doc_id"), 5, "strat-")),
    // Concat-then-chunk sequence packing: per-source token streams cut into
    // 2048-token sequences; offsets are exact integer window arithmetic.
    "q59_sequence_pack" -> ((s, d) =>
      Sampling.packSequences(
        Tables.documents(s, d).select(col("source"), col("doc_id"),
          TextStats.tokenCount(col("text")).as("n_tokens")),
        Seq("source"), Seq("doc_id"), "n_tokens", 2048)),
    // Near-dup pairs → dedup GROUPS: connected components over the q50
    // simhash pair graph (min-label propagation); the oracle walks the
    // same graph with a recursive CTE. component_id = min doc_id in the
    // component, the canonical keeper.
    "q60_dup_components" -> ((s, d) => {
      val pairs = simhashPairs(s, d)
      graft.graphs.ConnectedComponents.run(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .select(col("node").as("doc_id"), col("component").as("component_id"))
    }),
    // Mixture re-weighting: keep 80% of English docs, 50% of the rest,
    // decided by salted hash — the dataset-mixing primitive.
    "q61_mixture_sample" -> ((s, d) =>
      Sampling.mixtureSample(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id"), "mix-", Seq("en" -> 80), 50)),
    // Test-set decontamination: every 5th doc plays the eval set; corpus
    // docs are scored by distinct 3-gram shingles shared with ANY probe
    // doc. The near-dups planted in the corpus guarantee real overlap.
    "q66_decontaminate" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d)
      TextDedup.contaminationScores(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text")
    }),
    // PII scrubbing: deterministic emails/IPs/long numbers are planted
    // per doc_id, then redacted; the oracle plants and redacts with the
    // same patterns (RE2 ≡ Java regex for these character classes).
    "q67_pii_redact" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextStats.redactPii(concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"), lit(".7 acct "),
          (col("doc_id") * 137L + 12345678L).cast("string"))).as("clean"))),
    // Corpus heavy hitters: the 50 trigrams in the most documents —
    // the boilerplate/template detection signal.
    "q68_top_ngrams" -> ((s, d) =>
      TextStats.topNgrams(Tables.documentsSpread(s, d), "text", 3, 50)),
    // BM25 topical retrieval over the corpus; float tree mirrored exactly
    // in the oracle, score rounded to 3 decimals to absorb libm ln ULPs.
    "q69_bm25_topk" -> ((s, d) =>
      TextStats.bm25TopK(Tables.documentsSpread(s, d), "doc_id", "text",
        Seq("spark", "data", "pipeline"), 20)),
    // REAL image decode, oracle-gated end-to-end: deterministic
    // checkerboard PNGs are encoded per doc_id (javax.imageio), decoded
    // back pixel-by-pixel, and the exact dimensions + per-channel sums
    // must equal the closed-form arithmetic DuckDB computes from doc_id
    // alone — a hash mismatch means the codec round-trip touched a pixel.
    "q63_image_decode" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val (w, h) = (8 + (id % 40).toInt, 8 + (id % 23).toInt)
        graft.multimodal.Multimodal.MediaRow(id, "image",
          graft.multimodal.Multimodal.checkerboardPng(id, w, h), w, h,
          sample_rate = 0, duration_ms = 0, format = "png")
      }
      graft.multimodal.Multimodal.decodeImageMeta(media).toDF()
    }),
    // REAL WAV decode (javax.sound.sampled), same contract: header fields
    // and the exact 16-bit sample sum reproduced arithmetically in DuckDB.
    "q65_audio_decode" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val samples = 64 + (id % 64).toInt
        graft.multimodal.Multimodal.MediaRow(id, "audio",
          graft.multimodal.Multimodal.toneWav(id), 0, 0, sample_rate = 8000,
          duration_ms = samples * 1000 / 8000, format = "wav")
      }
      graft.multimodal.Multimodal.decodeWavMeta(media).toDF()
    }),
    // Session-grain rollup: the query every analytics user writes right
    // after sessionizing. Shares the sessionization's single shuffle (the
    // rollup keys extend the window partition keys).
    "q64_session_rollup" -> ((s, d) =>
      Temporal.sessionizeAgg(
        Tables.events(s, d).select(col("user_id"), col("event_id"),
          col("event_ts_us")),
        Seq("user_id"), "event_ts_us", Seq("event_id"), 1800000000L)),
    // Exact discrete percentiles per event_type — integer position
    // arithmetic so both engines pick the same sorted row; the Spark plan
    // is the two-pass bucketed histogram (no per-group single-task sort),
    // the oracle the straightforward row_number formulation.
    "q62_group_percentiles" -> ((s, d) =>
      Analytics.groupPercentilesDisc(
        Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"), col("value")),
        Seq("event_type"), "value", Seq(25, 50, 90))),
    // Exact n-gram Jaccard near-dup — the signature-free flavor: posting
    // co-occurrence counts give |A∩B| with no arrays on pair rows; exact
    // at the low threshold (0.5) where the q24 LSH banding would lose
    // recall. 2-gram shingles to differentiate from q24's 3-grams.
    "q70_jaccard_neardup" -> ((s, d) =>
      TextDedup.jaccardNearDupPairs(Tables.documentsSpread(s, d),
        "doc_id", "text", shingleN = 2, threshold = 0.5)),
    // k-means over embeddings, centroids = vec_id < 8 (model state,
    // driver-collected into plan literals). Assignment is a ZERO-shuffle
    // map stage; the update step's sufficient statistics are exact
    // fixed-point sums, so both gates hash-match the oracle.
    "q71_kmeans_assign" -> ((s, d) =>
      Similarity.kmeansAssign(Tables.embeddingsSpread(s, d),
        Similarity.centroidsOf(
          Tables.embeddings(s, d).filter(col("vec_id") < 8)))),
    "q72_kmeans_update" -> ((s, d) =>
      Similarity.kmeansUpdateSums(Tables.embeddingsSpread(s, d),
        Similarity.centroidsOf(
          Tables.embeddings(s, d).filter(col("vec_id") < 8)))),
    // int8 vector compression: every (vec, dim) code + midpoint-dequant
    // error pinned by the oracle — row-local fixed-order IEEE arithmetic.
    "q73_quantize_int8" -> ((s, d) =>
      Similarity.quantizeInt8(Tables.embeddingsSpread(s, d))),
    // RANGE window frame (value-based, peers included) — the frame family
    // ROWS-based q16 doesn't exercise; decimal-exact trailing 30-day sum.
    "q74_trailing_spend" -> ((s, d) =>
      Analytics.trailingSpend(Tables.orders(s, d), 30)),
    // Same exact-Jaccard contract as q70 through the OTHER textbook plan:
    // prefix-filtered AllPairs candidates + exact verify. Same oracle SQL
    // — two independent formulations gated against one truth.
    "q77_jaccard_prefix" -> ((s, d) =>
      TextDedup.jaccardNearDupPairsPrefix(Tables.documentsSpread(s, d),
        "doc_id", "text", shingleN = 2, threshold = 0.5)),
    // Tokenizer-training vocab: counts >= 3, ids by (count desc, token).
    "q90_vocab_build" -> ((s, d) =>
      TextStats.buildVocab(Tables.documentsSpread(s, d), "text", 3)),
    // Positional window family: first/last/nth over the full frame.
    "q91_value_bounds" -> ((s, d) =>
      Analytics.userValueBounds(Tables.events(s, d))),
    // Dense minute × event-type reporting grid with zero-fill.
    "q92_dense_grid" -> ((s, d) =>
      Analytics.denseEventGrid(Tables.events(s, d), eventTypes)),
    // Interpolated percentiles (percentile_cont companion to q62).
    "q93_percentiles_cont" -> ((s, d) =>
      Analytics.groupPercentilesCont(
        Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"), col("value"), col("event_id")),
        Seq("event_type"), "value", "event_id", Seq(25, 50, 90))),
    // Hopping 10-min/5-min GMV windows — each event in 2 windows.
    "q88_hopping_gmv" -> ((s, d) =>
      Medallion.salesHopping(Tables.events(s, d))),
    // ntile / percent_rank / cume_dist per market segment.
    "q89_value_tiles" -> ((s, d) =>
      Analytics.customerValueTiles(Tables.customer(s, d))),
    // Ordered conversion funnel (view → click → purchase, 24 h horizon)
    // — exact epoch-µs chain of groupBy-min stages.
    "q86_funnel" -> ((s, d) =>
      Analytics.funnelCounts(Tables.events(s, d),
        Seq("view", "click", "purchase"), 86400000000L)),
    // Weekly cohort retention triangle — integer week arithmetic.
    "q87_cohort_retention" -> ((s, d) =>
      Analytics.cohortRetention(Tables.events(s, d))),
    // LM-flavored quality score: corpus-unigram log-probs, fixed-point
    // per-token quantization so the per-doc sum is exact long math.
    "q84_unigram_logprob" -> ((s, d) =>
      TextStats.unigramLogProb(Tables.documentsSpread(s, d), "doc_id", "text")),
    // Gopher-style repetition rule: share of n-gram occurrences claimed
    // by the most frequent 2-gram; exact integer counts gate the ratio.
    "q85_repetition" -> ((s, d) =>
      TextStats.repetitionScore(Tables.documentsSpread(s, d), "doc_id",
        "text", 2)),
    // Product quantization: per-(vec, subspace) codes against md5-derived
    // codebooks (q42/q51 scheme) — map-only coding pass, every code and
    // squared-L2 distance reproduced in DuckDB.
    "q82_pq_codes" -> ((s, d) =>
      Similarity.pqCodes(Tables.embeddingsSpread(s, d))),
    // ADC retrieval over PQ codes: corpus = codes only, queries carry
    // their distance tables; ordered fold keeps adist bit-stable.
    "q83_pq_adc_topk" -> ((s, d) => {
      val em = Tables.embeddingsSpread(s, d)
      Similarity.pqAdcTopK(em.filter(col("vec_id") >= 10),
        em.filter(col("vec_id") < 10), 5)
    }),
    // FULL OUTER join with genuine left-only/right-only/matched classes;
    // right side pre-aggregated before the exchange.
    "q80_full_outer" -> ((s, d) =>
      Analytics.customerOrderFullJoin(Tables.customer(s, d),
        Tables.orders(s, d))),
    // CUBE grouping sets + grouping_id, one shuffle for all four sets.
    "q81_status_cube" -> ((s, d) =>
      Analytics.orderStatusCube(Tables.orders(s, d))),
    // Canonical normalization (lower/punct-strip/collapse) + md5 content
    // key — the pass exact dedup groups on; row-local, zero shuffles.
    "q78_normalize" -> ((s, d) =>
      TextStats.normalizedDocs(Tables.documentsSpread(s, d), "doc_id", "text")),
    // Morton (Z-order) clustering key over two dimension columns — pure
    // long bit-interleave, one shared expression tree with the oracle.
    "q79_zorder_key" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"),
        graft.lake.Layout.mortonKey(pmod(col("c_custkey"), lit(65536L)),
          pmod(col("c_nationkey"), lit(65536L)), 16).as("zkey"))),
    // As-of join, remaining merge_asof directions over the q54 fixture:
    // forward (next click at/after each purchase) and nearest (closer of
    // the two, backward on exact-distance ties).
    "q75_asof_forward" -> ((s, d) => {
      val (purchases, clicks) = asofFixture(s, d)
      Temporal.asofJoin(purchases, clicks, Seq("user_id"),
          "purchase_ts_us", "click_ts_us", Seq("click_id"),
          Seq("click_id", "click_ts_us"), direction = "forward")
        .withColumn("us_until_click",
          col("click_ts_us") - col("purchase_ts_us"))
    }),
    "q76_asof_nearest" -> ((s, d) => {
      val (purchases, clicks) = asofFixture(s, d)
      Temporal.asofJoin(purchases, clicks, Seq("user_id"),
          "purchase_ts_us", "click_ts_us", Seq("click_id"),
          Seq("click_id", "click_ts_us"), direction = "nearest")
        .withColumn("us_to_click",
          col("click_ts_us") - col("purchase_ts_us"))
    }),
    // Fixed-point integer PageRank over the item co-occurrence graph
    // (parts sharing an order link both ways) — 3 damped hops, all long
    // arithmetic, so the oracle unrolls the iterations as CTEs and
    // replays them bit-for-bit (values non-negative: Spark truncating
    // `div` ≡ DuckDB flooring `//`).
    "q94_pagerank" -> ((s, d) => {
      // scale pinned to the value the oracle CTEs unroll with (the
      // library default is auto-derived from node count and would drift
      // if the item graph ever outgrew the 1e12-safe bound).
      graft.graphs.PageRank.run(itemCoEdges(s, d), iterations = 3,
        scale = 1000000000000L)
    }),
    // End-to-end near-dup REMOVAL: simhash pairs → connected components →
    // keep the min-id doc per cluster. Oracle composes the q50 pair graph
    // with the q60 recursive-CTE reachability, then anti-joins the losers.
    "q95_keep_canonical" -> ((s, d) =>
      TextDedup.keepCanonical(Tables.documentsSpread(s, d), "doc_id",
          simhashPairs(s, d))
        .select(col("doc_id"), col("lang"), col("n_chars"))),
    // Sliding-window token chunking (8-token windows, 3-token overlap) —
    // boundaries, sizes and text all integer/slice arithmetic DuckDB
    // reproduces exactly.
    "q96_chunk_tokens" -> ((s, d) =>
      TextStats.chunkTokens(Tables.documentsSpread(s, d), "doc_id", "text",
        8, 3)),
    // Paragraph/chunk dedup (C4-style): corpus-wide keep-first on exact
    // chunk text, then per-doc reassembly of the survivors in order.
    "q97_chunk_dedup" -> ((s, d) =>
      TextDedup.chunkDedup(Tables.documentsSpread(s, d), "doc_id", "text")),
    // Token-budget sampling: per-lang 2000-token budgets filled in
    // salted-hash order — the token-budgeted mixture primitive; the
    // oracle replays the prefix-sum cut with one window.
    "q98_token_budget" -> ((s, d) =>
      Sampling.tokenBudgetSample(
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
          TextStats.tokenCount(col("text")).as("n_tokens")),
        Seq("lang"), col("doc_id"), "n_tokens", 2000L, "bud-")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("budget_used"))),
    // SCD Type 2 history over the per-user event-type change stream —
    // dbt-snapshot `check` semantics: consecutive-duplicate collapse,
    // [from, to) intervals, one current row per key. One shuffle; the
    // oracle replays the lag/lead/row_number triple on the same
    // (ts, event_id) order.
    "q99_scd2_history" -> ((s, d) =>
      scd2EventHistory(s, d)
        .select(col("user_id"), col("event_type"), col("valid_from_us"),
          col("valid_to_us"), col("version"), col("is_current"))),
    // HyperLogLog distinct customers per order status (p = 5 → 32
    // registers; n/m ≈ 45, comfortably in the raw-estimator regime).
    // Registers and the fixed-point estimate are pure integer arithmetic
    // the oracle replays bit-for-bit.
    "q100_hll_distinct" -> ((s, d) =>
      graft.ml.Sketches.hllDistinct(Tables.orders(s, d),
        Seq("o_orderstatus"), col("o_custkey"), 5)),
    // Degree-ordered triangle counts on the item co-occurrence graph
    // (q94's edge list) — top 100 triangle-heavy parts, unique tiebreak.
    "q101_triangles" -> ((s, d) => {
      graft.graphs.Triangles.topTriangleNodes(itemCoEdges(s, d), 100)
    }),
    // Count-min heavy hitters over the corpus BIGRAM stream (916
    // distinct bigrams vs d = 4 × w = 256 counters — real collision
    // pressure, the estimates genuinely sketch): top 100 by estimate.
    "q102_cms_topk" -> ((s, d) =>
      graft.ml.Sketches.cmsTopK(
        Tables.documentsSpread(s, d).select(
          explode(TextDedup.shinglesAll(col("text"), 2)).as("token")),
        "token", 4, 256, 100)),
    // Z-tile data-skipping manifest for lineitem clustered on
    // (l_partkey, l_suppkey) folded to 8 bits each (key ranges at test
    // sf are ≤ 2 000/100 — 8-bit folding is what spreads tiles; the fold
    // width is a layout knob, not semantics): per-tile row count and
    // both dimension ranges — narrow rectangles are what make
    // either-column pruning work; the oracle re-derives the Morton key
    // from the shared expression template.
    "q103_zorder_manifest" -> ((s, d) =>
      graft.lake.Layout.tileManifest(Tables.lineitem(s, d),
        "l_partkey", "l_suppkey", 8, 8)),
    // As-of dimension lookup against the q99 SCD2 history: each purchase
    // joins the state version covering its timestamp (half-open
    // intervals make the match unique even on tie-timestamp versions).
    "q104_scd2_asof" -> ((s, d) =>
      graft.lake.Scd2.asOfLookup(
        Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
          .select(col("event_id"), col("user_id"), col("event_ts_us")),
        scd2EventHistory(s, d), Seq("user_id"), "event_ts_us")
        .select(col("event_id"), col("user_id"), col("event_ts_us"),
          col("event_type"), col("version"))),
    // SymSpell fuzzy matching on customer names: deletion-neighborhood
    // blocking is COMPLETE for d ≤ 1, so the oracle is the brute-force
    // distance matrix itself — the gate proves no candidate is missed.
    "q105_fuzzy_pairs" -> ((s, d) =>
      graft.text.Fuzzy.editDistancePairs(Tables.customer(s, d),
        "c_custkey", "c_name")),
    // Bloom filter build over F-order customers (16384 bits / 4 hashes),
    // probed by every customer, with ground truth alongside — false
    // positives are deterministic (md5 bit positions) so the oracle
    // replays hits AND misses; the spec pins the no-false-negative law.
    "q106_bloom_filter" -> ((s, d) => {
      val fkeys = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val words = graft.ml.Sketches.bloomWords(fkeys, col("o_custkey"), 16384, 4)
      graft.ml.Sketches.bloomProbe(words,
          Tables.customer(s, d).select(col("c_custkey")),
          col("c_custkey"), 16384, 4)
        .withColumnRenamed("value", "c_custkey")
        .join(fkeys.distinct().withColumnRenamed("o_custkey", "c_custkey")
          .withColumn("__act", lit(true)), Seq("c_custkey"), "left")
        .select(col("c_custkey"), col("bloom_hit"),
          coalesce(col("__act"), lit(false)).as("actual"))
    }),
    // Sequential Poisson (Ohlsson) weighted sampling: 20 docs per lang,
    // inclusion ∝ n_chars, priority = h div weight — integer order
    // statistics the oracle replays exactly.
    "q107_weighted_sample" -> ((s, d) =>
      Sampling.weightedSample(
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
          col("n_chars")),
        Seq("lang"), col("doc_id"), "n_chars", 20, "wtd-")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("priority"), col("rank"))),
    // End-to-end embedding near-dup REMOVAL: q42's cosine pair graph →
    // connected components → keep the min-id vector per cluster (the
    // vector-space q95). Oracle composes the q42 bucket/cosine CTEs with
    // the q60 recursive-CTE reachability.
    "q108_embedding_canonical" -> ((s, d) => {
      val em = Tables.embeddingsSpread(s, d)
      Similarity.keepCanonical(em, Similarity.cosineDupPairsBucketed(em, 0.3))
        .select(col("vec_id"), col("label"))
    }),
    // Incremental SCD2 maintenance gated by its defining invariant:
    // history(events < Jan 16) + applyChanges(events ≥ Jan 16) must
    // equal history(all events) — the oracle IS q99's full rebuild.
    "q109_scd2_increment" -> ((s, d) => {
      val cutoff = 1705363200000000L // 2024-01-16 00:00 UTC, mid-corpus
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), col("event_ts_us"),
          col("event_id"))
      val h1 = graft.lake.Scd2.history(ev.filter(col("event_ts_us") < cutoff),
        Seq("user_id"), Seq("event_type"), "event_ts_us", "event_id")
      graft.lake.Scd2.applyChanges(h1, ev.filter(col("event_ts_us") >= cutoff),
        Seq("user_id"), Seq("event_type"), "event_ts_us", "event_id")
        .select(col("user_id"), col("event_type"), col("valid_from_us"),
          col("valid_to_us"), col("version"), col("is_current"))
    }),
    // Asymmetric containment pairs (quote/subset detection): same
    // posting-list machinery as q70/q77, score = n_shared / min(|A|, |B|).
    "q110_containment" -> ((s, d) =>
      TextDedup.containmentPairs(Tables.documentsSpread(s, d),
        "doc_id", "text", shingleN = 2, threshold = 0.8)),
    // Histogram-sketch quantiles (the sketch family's quantile member):
    // p50/p95 account-balance bins per market segment from a 64-bin
    // mergeable sketch — floor(×100) cents keep every step integer
    // (floor on a double is tie-free, the q23 recipe).
    "q111_hist_quantiles" -> ((s, d) => {
      val cents = floor(col("c_acctbal") * lit(100.0)).cast("long")
      val sk = graft.ml.Sketches.histSketch(Tables.customer(s, d),
        Seq("c_mktsegment"), cents, -100000L, 1000000L, 64)
      graft.ml.Sketches.histQuantiles(sk, Seq("c_mktsegment"),
        -100000L, 1000000L, 64, Seq(500, 950))
    }),
    // First-order Markov transition matrix of each user's event stream:
    // count, origin outflow, and probability per (from, to) transition.
    // One lead window + one map-side-combinable agg; the normalizer
    // window runs over the |states|² matrix, never the stream.
    "q112_event_transitions" -> ((s, d) =>
      Analytics.eventTransitions(Tables.events(s, d))),
    // Per-type z-score outliers (|z| ≥ 2): exact decimal sums of
    // milli-quantized values, pinned-order double mean/var/σ/z — no
    // per-group sort, model-sized stats joined back.
    "q113_group_zscore" -> ((s, d) =>
      Analytics.groupZScores(
        Tables.events(s, d)
          .select(col("event_type"), col("event_id"), col("value")),
        Seq("event_type"), "value", Seq("event_id"), 2.0)),
    // Hour-grain resample with forward fill: last observation per
    // (user, hour) carried across gap hours — two exchanges, gap rows
    // generated map-side from the lead-to-next-observation explode.
    "q114_ffill_resample" -> ((s, d) =>
      Temporal.resampleFfill(
        Tables.events(s, d)
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .select(col("user_id"), col("event_ts_us"), col("event_id"),
            col("value")),
        Seq("user_id"), "event_ts_us", Seq("event_id"), "value",
        3600000000L)),
    // Mean-pooled embedding per label (class centroids): q72's exact
    // fixed-point sum recipe keyed by a data column — one narrow-row
    // shuffle, model-sized output.
    "q115_label_centroids" -> ((s, d) =>
      Similarity.groupMeanPool(Tables.embeddingsSpread(s, d), "label")),
    // Add-one-smoothed bigram LM scored over its own corpus — the
    // sequence-aware quality score q84's unigram model cannot see; same
    // floor(log·10⁶) fixed-point contract.
    "q116_bigram_logprob" -> ((s, d) =>
      TextStats.bigramLogProb(Tables.documentsSpread(s, d), "doc_id",
        "text")),
    // Windowed first/last-touch attribution (3-day window): min/max of
    // the staged touch struct over a RANGE frame — single shuffle, no
    // self-join, nulls when no in-window touch.
    "q117_touch_attribution" -> ((s, d) =>
      Temporal.touchAttribution(Tables.events(s, d), "user_id",
        "event_ts_us", "event_id", "event_type", Seq("click", "view"),
        "purchase", 259200000000L)),
    // Near-dup cluster size histogram over the q50 simhash pair graph —
    // the dedup QA readout (2-clusters vs template blobs); two
    // model-sized aggs on top of the q60 component fixpoint.
    "q118_component_sizes" -> ((s, d) =>
      graft.graphs.ConnectedComponents.sizeHistogram(
        simhashPairs(s, d)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))),
    // Trailing-7-day rolling distinct users per epoch-day via HLL
    // register re-aggregation — sketches built once per day, merged
    // sketch-side; raw events are scanned exactly once.
    "q119_rolling_distinct" -> ((s, d) =>
      graft.ml.Sketches.hllRolling(
        Tables.events(s, d).filter(col("user_id").isNotNull),
        expr("event_ts_us div 86400000000"), col("user_id"), 7, 5)),
    // MAD robust outliers (k=3): exact milli-long order statistics
    // through the q62 bucketed-percentile machinery, twice.
    "q120_mad_outliers" -> ((s, d) =>
      Analytics.madOutliers(
        Tables.events(s, d)
          .select(col("event_type"), col("event_id"), col("value")),
        Seq("event_type"), "value", Seq("event_id"), 3.0)),
    // Session-level PMI of event-type co-occurrence (30-min gap
    // sessions): the association matrix over session-distinct type sets.
    "q121_session_pmi" -> ((s, d) =>
      Analytics.sessionPmi(Tables.events(s, d), 1800000000L)),
    // Top-25 session type-paths (funnel discovery): gap-sessions render
    // as a>b>c ordered by (ts, event_id); TakeOrdered top-k, path as the
    // unique tiebreaker.
    "q122_session_paths" -> ((s, d) =>
      Analytics.sessionPaths(Tables.events(s, d), 1800000000L, 25)),
    // Incremental near-dup: docs with doc_id % 10 = 0 play the nightly
    // fresh batch against the rest of the corpus — old-old pairs are
    // never generated; q24's banding/verify contract otherwise.
    "q123_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d)
      TextDedup.incrementalNearDupPairs(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text")
    }),
    // BPE merge training, 3 steps: character symbols over the word-freq
    // table, greedy-left merges; oracle = the same greedy semantics
    // unrolled per stage (run-parity windows).
    "q124_bpe_merges" -> ((s, d) =>
      TextStats.bpeTrain(Tables.documentsSpread(s, d), "text", 3)),
    // Distribution drift: event-type mix of the first 15 days vs the
    // rest — per-category smoothed KL terms (their sum is the
    // divergence); the drift monitor a production pipeline runs daily.
    "q125_category_drift" -> ((s, d) =>
      Analytics.categoryDrift(
        Tables.events(s, d).select(col("event_type"), col("event_ts_us")),
        "event_type", expr("event_ts_us div 86400000000") < 19738L)),
    // The trained BPE tokenizer APPLIED: subword vocabulary with corpus
    // frequencies after the q124 merges.
    "q126_bpe_vocab" -> ((s, d) =>
      TextStats.bpeVocab(Tables.documentsSpread(s, d), "text", 3)),
    // As-of with tolerance (pandas merge_asof semantics): the q54
    // backward lookup, but a click more than 1 hour before its purchase
    // is no match at all.
    "q127_asof_tolerance" -> ((s, d) => {
      val (purchases, clicks) = asofFixture(s, d)
      Temporal.asofJoin(purchases, clicks, Seq("user_id"),
          "purchase_ts_us", "click_ts_us", Seq("click_id"),
          Seq("click_id", "click_ts_us"), tolerance = Some(3600000000L))
        .withColumn("us_since_click",
          col("purchase_ts_us") - col("click_ts_us"))
    }),
    // Versioned lake: two MERGE commits into a fresh Delta table (q10's
    // batches), then TIME TRAVEL — the output is Delta versions 0 and 1
    // read back via readAt, labelled 1 and 2 (the first and second
    // merge). Gates the merge-as-rewrite-commit semantics and the log
    // read path; the oracle replays the two latest-wins merge states.
    "q128_snapshot_history" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_ts_us"), col("value"))
      val root = freshScratch("q128")
      val keys = Seq("event_id")
      val ordering = Seq("event_ts_us", "event_id")
      graft.lake.DeltaLog.commitFlat(s, root, graft.lake.Upsert.latestWins(
        ev.filter(col("event_id") % 3 === 0), keys, ordering))
      graft.lake.DeltaLog.commitFlat(s, root,
        graft.lake.Upsert.merge(graft.lake.DeltaLog.read(s, root),
          ev.filter(col("event_id") % 2 === 0), keys, ordering),
        rewrite = true)
      graft.lake.DeltaLog.readAt(s, root, 0L).withColumn("version", lit(1L))
        .unionByName(
          graft.lake.DeltaLog.readAt(s, root, 1L).withColumn("version", lit(2L)))
    }),
    // APPEND commits — the Bronze-cadence path: two append commits
    // into a fresh Delta table, current read = the union of both
    // batches (the second commit only adds files; nothing is copied or
    // rewritten). Gates the append-only log replay end-to-end.
    "q129_snapshot_append" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_ts_us"), col("value"))
      val root = freshScratch("q129")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice", col("event_id") % 3),
        "__slice", Seq(0, 1))
      graft.lake.DeltaLog.read(s, root)
    }),
    // N-gram novelty: fraction of each doc's distinct 3-shingles with
    // corpus df = 1 — the uniqueness signal curation ranks by (inverse
    // of boilerplate). Hashed shingles; df structure equals string
    // shingles up to 64-bit collisions (q70's caveat).
    "q130_ngram_novelty" -> ((s, d) =>
      TextStats.ngramNovelty(Tables.documentsSpread(s, d), "doc_id", "text", 3)),
    // Token rarity: mean IDF of each doc's token occurrences (q84's
    // fixed-point ln recipe with df in place of term frequency).
    "q131_token_rarity" -> ((s, d) =>
      TextStats.tokenRarity(Tables.documentsSpread(s, d), "doc_id", "text")),
    // Curation funnel: cumulative survivor counts through exact dedup →
    // language → min-length, all from one pass (dataset-card report).
    "q132_curation_funnel" -> ((s, d) =>
      TextStats.curationFunnel(Tables.documentsSpread(s, d), "doc_id",
        "text", "lang", "en", 40)),
    // Snapshot change rows: two rewrite commits whose states overlap
    // (v0 = %3 keys, v1 = %2 keys with doubled values), then diff(v0, v1)
    // classifies every key as insert (%2 not %3), delete (%3 not %2) or
    // update (%6 with value ≠ 0) with before/after images — the Delta
    // CDF analog, derived after the fact from two readAt versions.
    "q133_snapshot_diff" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_ts_us"), col("value"))
      val root = freshScratch("q133")
      graft.lake.DeltaLog.commitFlat(s, root,
        graft.lake.Upsert.latestWins(ev.filter(col("event_id") % 3 === 0),
          Seq("event_id"), Seq("event_ts_us", "event_id")))
      graft.lake.DeltaLog.commitFlat(s, root,
        graft.lake.Upsert.latestWins(ev.filter(col("event_id") % 2 === 0),
            Seq("event_id"), Seq("event_ts_us", "event_id"))
          .withColumn("value", col("value") * 2),
        rewrite = true)
      graft.lake.DeltaLog.diff(s, root, 0L, 1L, Seq("event_id"))
    }),
    // SemDeDup (cluster-then-dedup): q71's centroid assignment, then
    // within-cluster pairwise cosine — drop any vector 0.3-close to a
    // smaller-id cluster-mate. Cross-cluster pairs are never compared
    // (the technique's trade); survivors (vec_id, centroid_id).
    "q134_semdedup" -> ((s, d) =>
      Similarity.semDedup(Tables.embeddingsSpread(s, d),
        Similarity.centroidsOf(
          Tables.embeddings(s, d).filter(col("vec_id") < 8)), 0.3)),
    // Versioned DML: DELETE WHERE then UPDATE WHERE on a Delta table,
    // each a filtered rewrite commit, current read gated relationally —
    // delete keeps null-evaluating rows (three-valued logic), update
    // doubles purchase values against the ORIGINAL row. Dedup tiebreak note
    // (applies to q128/q133/q136 too): event_id is UNIQUE in the driver
    // fixture (verified 10000/10000), so the latest-wins window is an
    // idempotence formality with one row per partition — if a future
    // fixture ever carried duplicate (event_id, ts) rows, the ordering
    // would need a payload tiebreaker on BOTH engines (the q02 rule).
    "q135_snapshot_dml" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("event_ts_us"),
          col("value"))
      val root = freshScratch("q135")
      graft.lake.DeltaLog.commitFlat(s, root,
        graft.lake.Upsert.latestWins(ev.filter(col("event_id") % 3 === 0),
          Seq("event_id"), Seq("event_ts_us", "event_id")))
      graft.lake.DeltaLog.commitFlat(s, root,
        graft.lake.DeltaLog.read(s, root)
          .filter(!coalesce(col("value") < 50.0, lit(false))),
        rewrite = true)
      graft.lake.DeltaLog.commitFlat(s, root,
        graft.lake.DeltaLog.read(s, root).withColumn("value",
          when(coalesce(col("event_type") === "purchase", lit(false)),
            col("value") * 2).otherwise(col("value"))),
        rewrite = true)
      graft.lake.DeltaLog.read(s, root)
    }),
    // OPTIMIZE ZORDER row-preservation: the Z-clustered rewrite commit
    // must carry exactly the pre-optimize rows (hash-matched).
    "q136_snapshot_optimize" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_ts_us"))
        .filter(col("user_id").isNotNull)
      val root = freshScratch("q136")
      graft.lake.DeltaLog.commitFlat(s, root,
        graft.lake.Upsert.latestWins(ev, Seq("event_id"),
          Seq("event_ts_us", "event_id")))
      graft.lake.DeltaLog.optimizeZOrder(s, root, "event_id", "user_id",
        bits = 10, numFiles = 8)
      graft.lake.DeltaLog.read(s, root)
    }),
    // Duplicated-span detection (exact-substring dedup at shingle
    // granularity, Lee et al. 2022): positions whose trigram shingle
    // occurs >1 time corpus-wide, merged into maximal per-doc spans —
    // the partial-overlap complement of whole-document dedup.
    "q137_dup_spans" -> ((s, d) =>
      TextDedup.dupSpans(Tables.documentsSpread(s, d), "doc_id", "text", 3)),
    // Hashed linear classifier inference (fastText shape): unigram +
    // bigram occurrences hashed into 2^16 buckets, md5-derived
    // placeholder weights on the broadcast side, exact fixed-point
    // per-doc sums. The plumbing a real trained quality filter uses.
    "q138_quality_classifier" -> ((s, d) =>
      TextStats.hashedLinearScore(Tables.documentsSpread(s, d),
        "doc_id", "text")),
    // Frequent-chunk boilerplate removal (CCNet/C4 line filter): chunks
    // appearing in >= 3 distinct docs are dropped EVERYWHERE (unlike
    // q97's keep-first), docs reassembled from the survivors.
    "q139_drop_boilerplate" -> ((s, d) =>
      TextDedup.dropBoilerplate(Tables.documentsSpread(s, d),
        "doc_id", "text", chunkWords = 10, minDocs = 3)),
    // Exact phrase search via the positional inverted index: each join
    // side is the postings filtered to one token, position-adjacency
    // semi joins — the probe moves df(word)-sized slices, never the
    // corpus.
    "q140_phrase_search" -> ((s, d) =>
      // the postings index is read once PER PHRASE WORD inside one plan
      // — persist per call so the tokenize+posexplode pass runs once,
      // not three times
      TextStats.phraseSearch(
        TextStats.positionalPostings(Tables.documentsSpread(s, d),
            "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        Seq("data", "table", "scan"))),
    // Per-source curation report: corpus-wide exact-dup keeper window,
    // then doc/dup/lang/token rollups per source — the domain-level
    // prune list web curation ranks by.
    "q141_source_report" -> ((s, d) =>
      TextStats.sourceReport(Tables.documentsSpread(s, d))),
    // Market-basket lift over order line items: pair support bounded by
    // per-order item count², Apriori support bar >= 2, fixed-point lift.
    "q142_basket_lift" -> ((s, d) =>
      Analytics.basketLift(Tables.lineitem(s, d), "l_orderkey", "l_partkey",
        minSupport = 2)),
    // TF-IDF cosine pairs: ltc weighting, exact fixed-point long dots via
    // the guarded posting-list pair join — topical similarity, vs the
    // copy-detection Jaccard family.
    "q143_tfidf_cosine" -> ((s, d) =>
      SparseSim.tfidfCosinePairs(Tables.documentsSpread(s, d), "doc_id", "text")),
    // Source-pair shingle overlap matrix: the dataset-card cross-source
    // duplication report (exact intersection / Jaccard / overlap coeff).
    "q144_source_overlap" -> ((s, d) =>
      SparseSim.sourceOverlap(Tables.documentsSpread(s, d), "source", "text")),
    // JL random projection: md5-derived Rademacher signs, quantize-once
    // fixed-point components — one row-local map stage, zero exchanges.
    "q145_random_projection" -> ((s, d) =>
      Similarity.randomProjection(Tables.embeddingsSpread(s, d))),
    // Prototypicality pruning: drop each cluster's most-prototypical 50%
    // (cosine-to-centroid rank), keep the hard tail.
    "q146_prototype_prune" -> ((s, d) =>
      Similarity.prototypePrune(Tables.embeddingsSpread(s, d),
        Similarity.centroidsOf(
          Tables.embeddings(s, d).filter(col("vec_id") < 8)))),
    // 4-round synchronous label propagation over the item co-occurrence
    // graph (deterministic plurality vote, min-label ties).
    "q147_label_prop" -> ((s, d) => {
      graft.graphs.LabelProp.run(itemCoEdges(s, d), rounds = 4)
    }),
    // DSIR hashed-unigram importance weights: target = English docs,
    // add-half-smoothed log-ratio per md5 bucket, exact fixed-point sums.
    "q148_dsir_weights" -> ((s, d) =>
      Sampling.dsirWeights(Tables.documentsSpread(s, d), "doc_id", "text",
        col("lang") === "en")),
    // MMR diverse top-8 against the vec_id=0 query vector, λ=0.5.
    "q149_mmr_select" -> ((s, d) => {
      val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      Similarity.mmrSelect(
        Tables.embeddingsSpread(s, d).filter(col("vec_id") > 0), q, k = 8)
    }),
    // RFM quintile segmentation of the customer base from orders.
    "q150_rfm_segments" -> ((s, d) =>
      Analytics.rfmSegments(Tables.orders(s, d), "o_custkey", "o_orderdate",
        "o_totalprice")),
    // Tokenizer-aware per-doc token counts: the q124 BPE merges applied,
    // each word occurrence charged its subword count.
    "q151_bpe_token_counts" -> ((s, d) =>
      TextStats.bpeTokenCounts(Tables.documentsSpread(s, d), "doc_id",
        "text", 3)),
    // Quality-policy canonical selection over the simhash pair
    // graph: keep each cluster's LONGEST member (token count, min-id
    // ties) instead of q95's min id.
    "q152_quality_canonical" -> ((s, d) =>
      TextDedup.keepCanonicalBy(Tables.documentsSpread(s, d), "doc_id",
          size(TextDedup.tokens(col("text"))).cast("long"),
          pairs = simhashPairs(s, d))
        .select(col("doc_id"), col("lang"), col("n_chars"))),
    // Content-defined chunking: md5 rolling boundaries (expected chunk
    // ~8 tokens), shift-stable chunk hashes for downstream dedup.
    "q153_cdc_chunks" -> ((s, d) =>
      TextStats.cdcChunks(Tables.documentsSpread(s, d), "doc_id", "text")),
    // CDC dedup report: corpus keep-first on chunk hashes, per-doc
    // duplicated-token mass.
    "q154_cdc_dedup" -> ((s, d) =>
      TextStats.cdcDedupReport(Tables.documentsSpread(s, d), "doc_id", "text")),
    // Zipf exponent per source: exact fixed-point OLS on the log-log
    // rank/frequency line (corpus health check).
    "q155_zipf_slope" -> ((s, d) =>
      TextStats.zipfSlope(Tables.documentsSpread(s, d), "source", "text")),
    // Daily trend slopes (cents/day) per event type via the same exact
    // OLS primitive.
    "q156_trend_slopes" -> ((s, d) =>
      Analytics.trendSlopes(
        Tables.events(s, d).select(col("event_type"), col("event_ts_us"),
          col("value")),
        "event_type", "event_ts_us", "value")),
    // Davies–Bouldin clustering quality over the q71 assignment:
    // fixed-point scatters, bit-stable centroid separations.
    "q157_davies_bouldin" -> ((s, d) =>
      Similarity.daviesBouldin(Tables.embeddingsSpread(s, d),
        Similarity.centroidsOf(
          Tables.embeddings(s, d).filter(col("vec_id") < 8)))),
    // Split-leakage audit: near-dup pairs crossing the q57 hash-split
    // boundaries — off-diagonal rows are eval contamination.
    "q158_split_leakage" -> ((s, d) => {
      val splits = Sampling.hashSplit(
          Tables.documents(s, d).select(col("doc_id")), col("doc_id"),
          "split-", Seq("train" -> 80, "validation" -> 10, "test" -> 10))
        .select(col("doc_id").as("id"), col("split"))
      Sampling.splitLeakage(simhashPairs(s, d), splits)
    }),
    // Metric co-movement: exact Pearson r between every event-type pair's
    // daily cent totals (fixed-point sums; sqrt/div are IEEE-identical).
    "q159_metric_corr" -> ((s, d) =>
      Analytics.corrPairs(dailyCents(s, d), "day", "series", "y_fp")),
    // Trailing dyadic EWMA (α=½, 16 lags) over the same daily series —
    // exact long smoothing on the per-series day spine.
    "q160_ewma_smooth" -> ((s, d) =>
      Temporal.ewmaTrailing(dailyCents(s, d), Seq("series"), "day", "y_fp")),
    // Column profile report over a type-normalized orders projection —
    // the deequ/dbt-docs summary in one aggregation pass.
    "q161_profile_report" -> ((s, d) =>
      graft.quality.Checks.profile(
        Tables.orders(s, d).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("price_cents"),
          col("o_orderdate").cast("date").cast("string").as("order_date")),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "price_cents", "order_date"))),
    // 80-core of the item co-occurrence graph: 6 peeling rounds (monotone,
    // converged at every shipped scale — extra rounds are no-ops).
    "q162_kcore" -> ((s, d) => {
      graft.graphs.KCore.run(itemCoEdges(s, d), k = 80, rounds = 6)
    }),
    // Hybrid retrieval: BM25 top-50 ∪ dense-cosine top-50, fused by
    // reciprocal rank (exact integer terms), top-20 out.
    "q163_rrf_fusion" -> ((s, d) => {
      val bm = TextStats.bm25TopK(Tables.documentsSpread(s, d), "doc_id",
          "text", Seq("spark", "data", "pipeline"), 50)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("doc_id").asc)))
        .select(col("doc_id").as("id"), col("rank"))
      val em = Tables.embeddingsSpread(s, d)
      val ann = Similarity.annTopK(em.filter(col("vec_id") > 0),
          em.filter(col("vec_id") === 0), 50)
        .select(col("neighbor_id").as("id"), col("rank"))
      graft.ml.Retrieval.rrfFuse(Seq(bm, ann), "id", 20)
    }),
    // Hard-negative mining: for each anchor in the vec_id<16 batch, the 5
    // most-similar corpus vectors with a DIFFERENT label.
    "q164_hard_negatives" -> ((s, d) => {
      val em = Tables.embeddingsSpread(s, d)
      Similarity.hardNegatives(em, Tables.embeddings(s, d)
        .filter(col("vec_id") < 16), k = 5)
    }),
    // Pairwise source vocabulary overlap via HLL inclusion-exclusion over
    // 3-gram shingles (p=8: ~1.3k distinct shingles/source ≳ 3·256).
    "q165_source_vocab_overlap" -> ((s, d) =>
      graft.ml.Sketches.hllOverlapPairs(
        Tables.documentsSpread(s, d).select(col("source"),
          explode(TextDedup.shingles(col("text"), 3)).as("__sh")),
        "source", col("__sh"), p = 8)),
    // Temperature-α=1/2 mixture weights per source (ppm sampling shares).
    "q166_temperature_mix" -> ((s, d) =>
      Sampling.temperatureWeights(Tables.documents(s, d), "source")),
    // Precision/recall/F1 sweep of the q138 classifier against the
    // lang=='en' label at six literal score cuts (exact ppm ratios).
    "q167_pr_sweep" -> ((s, d) =>
      graft.ml.Eval.thresholdSweep(
        q138Scored(s, d), "score_fp", col("__en"),
        Seq(-8000000L, -4000000L, -2000000L, 0L, 2000000L, 4000000L))),
    // Cohen's kappa between the q49 trigram lang-id and the lang column —
    // chance-corrected agreement from exact confusion counts.
    "q168_langid_kappa" -> ((s, d) =>
      graft.ml.Eval.cohensKappa(
        Tables.documentsSpread(s, d).filter(length(col("text")) >= 3),
        col("lang"), TextStats.langIdNgram(col("text")))),
    // Reliability diagram of the q138 score vs lang=='en': exact decile
    // cut on (score, doc_id), per-bin positive rate.
    "q169_calibration" -> ((s, d) =>
      graft.ml.Eval.calibrationBins(q138Scored(s, d), "score_fp", "doc_id",
        col("__en"))),
    // Join-key skew profile of events.user_id (nulls folded to -1 so the
    // tiebreak never compares NULL orderings across engines).
    "q170_skew_profile" -> ((s, d) =>
      Analytics.keySkewProfile(
        Tables.events(s, d).select(coalesce(col("user_id"), lit(-1L)).as("uid")),
        "uid", 10)),
    // Per-nation Gini concentration of customer order spend.
    "q171_spend_gini" -> ((s, d) => {
      val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * lit(100))
          .cast("long").as("cents"))
      val df = spend.join(
        Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      Analytics.giniByGroup(df, "c_nationkey", "c_custkey", "cents")
    }),
    // Shannon entropy of the source mix per language (corpus diversity).
    "q172_source_entropy" -> ((s, d) =>
      Sampling.mixtureEntropy(Tables.documents(s, d), "lang", "source")),
    // 3-round multi-source BFS hops from the l_partkey%97==0 seed parts
    // over the co-occurrence graph.
    "q173_bfs_hops" -> ((s, d) => {
      val edges = itemCoEdges(s, d)
      val seeds = Tables.lineitem(s, d)
        .filter(col("l_partkey") % 97 === 0)
        .select(col("l_partkey").as("node")).distinct()
      graft.graphs.Bfs.run(edges, seeds, rounds = 3)
    }),
    // Winnowing (MOSS) positional fingerprints: 3-gram hashes, window 4,
    // rightmost-min selection, distinct (pos, hash) pairs.
    "q174_winnow_fingerprints" -> ((s, d) =>
      TextDedup.winnowFingerprints(Tables.documentsSpread(s, d), "doc_id",
        "text")),
    // Time-weighted average event value per user (TWAP): value holds
    // until the user's next event, cents·µs in DECIMAL(38,0).
    "q175_time_weighted" -> ((s, d) =>
      Temporal.timeWeightedAvg(
        Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("user_id"), col("event_id"), col("event_ts_us"),
            (col("value").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"))
          .filter(col("user_id").isNotNull),
        Seq("user_id"), "event_ts_us", "event_id", "cents")),
    // Daily OHLC bars of purchase values per event type.
    "q176_ohlc_bars" -> ((s, d) =>
      Analytics.ohlcBars(
        Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"), col("event_id"), col("event_ts_us"),
            (col("value").cast("decimal(18,2)") * 100).cast("long")
              .as("cents")),
        Seq("event_type"), "event_ts_us", "event_id", "cents",
        86400000000L)),
    // Exact covariance matrix of the embedding dimensions (PCA's
    // distributed half) — one corpus scan, marker-row marginals.
    "q177_embedding_cov" -> ((s, d) =>
      Similarity.covarianceMatrix(Tables.embeddingsSpread(s, d))),
    // Winsorized event-value stats per type: clip at the exact [p5, p95]
    // discrete percentiles, robust sums/means in cents.
    "q178_winsorized_stats" -> ((s, d) =>
      Analytics.winsorizedStats(
        Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"),
            (col("value").cast("decimal(18,2)") * 100).cast("long")
              .as("cents")),
        Seq("event_type"), "cents", 5, 95)),
    // Two-proportion z-test between md5 hash-split variants; conversion =
    // heavy purchaser (>= 14 purchase events — every user purchases at
    // least once in this stream, so plain "any purchase" has zero pooled
    // variance and no testable pairs).
    "q179_ab_test" -> ((s, d) => {
      val users = Tables.events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id")).distinct()
      val variants = Sampling.hashSplit(users, col("user_id"), "ab-",
        Seq("A" -> 34, "B" -> 33, "C" -> 33))
      val conv = Tables.events(s, d)
        .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("__np"))
        .filter(col("__np") >= 14)
        .select(col("user_id")).withColumn("__conv", lit(true))
      graft.ml.Eval.abTest(
        variants.join(conv, Seq("user_id"), "left")
          .select(col("split"),
            coalesce(col("__conv"), lit(false)).as("converted")),
        col("split"), col("converted"))
    }),
    // Hour-of-week seasonality heatmap with exact ppm index.
    "q180_seasonality" -> ((s, d) =>
      Analytics.seasonalityProfile(
        Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_ts_us"),
            (col("value").cast("decimal(18,2)") * 100).cast("long")
              .as("cents")),
        "event_ts_us", "cents")),
    // Per-document character entropy (gibberish/quality signal) — the
    // q172 fixed-point entropy over exploded characters.
    "q181_char_entropy" -> ((s, d) =>
      Sampling.mixtureEntropy(
        Tables.documentsSpread(s, d).select(col("doc_id"),
          explode(expr(
            "transform(sequence(1, length(text)), i -> substring(text, i, 1))"))
            .as("ch")),
        "doc_id", "ch")),
    // Quantile normalization of the q138 score across sources — every
    // source's score distribution mapped onto the pooled one.
    "q182_quantile_norm" -> ((s, d) => {
      val scored = TextStats.hashedLinearScore(
          Tables.documentsSpread(s, d), "doc_id", "text")
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
      Sampling.quantileNormalize(scored, "source", "doc_id", "score_fp")
    }),
    // Rendezvous-hash shard resize report (8 → 12 shards over the user
    // key space): minimal-movement consistent hashing, quantified.
    "q183_shard_moves" -> ((s, d) =>
      graft.lake.Layout.rendezvousMoves(
        Tables.events(s, d).filter(col("user_id").isNotNull)
          .select(col("user_id")).distinct(),
        "user_id", fromShards = 8, toShards = 12)),
    // Sorted-neighborhood dedup blocking: lexicographic rank, window-3
    // forward pairs, exact shingle-Jaccard verification.
    "q184_sorted_neighbors" -> ((s, d) =>
      TextDedup.sortedNeighborPairs(Tables.documentsSpread(s, d), "doc_id",
        "text")),
    // Linear interpolation of per-user daily spend gaps (user_id < 30
    // keeps the panel small and genuinely gappy).
    "q185_linear_interp" -> ((s, d) =>
      Temporal.interpolateLinear(
        Tables.events(s, d)
          .filter(col("value").isNotNull && col("user_id").isNotNull &&
            col("user_id") < 30)
          .groupBy(col("user_id"),
            expr("event_ts_us div 86400000000").as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y_fp")),
        Seq("user_id"), "day", "y_fp")),
    // Leave-one-out target encoding of source against the lang=='en'
    // label (prior m=10) — leakage-safe categorical features.
    "q186_target_encode" -> ((s, d) =>
      graft.ml.Eval.targetEncodeLoo(Tables.documents(s, d), col("source"),
        col("doc_id"), col("lang") === "en")),
    // LSH tuning table: expected band-blocking recall over the corpus's
    // own exact near-dup pairs at five (bands, rows) grid points.
    "q187_lsh_tuning" -> ((s, d) =>
      TextDedup.lshTuningTable(
        TextDedup.jaccardNearDupPairs(Tables.documentsSpread(s, d),
          "doc_id", "text", shingleN = 2, threshold = 0.5),
        "jaccard", lshGrid)),
    // Chi-squared independence of language vs source (corpus balance).
    "q188_chi_squared" -> ((s, d) =>
      graft.ml.Eval.chiSquared(Tables.documents(s, d), col("lang"),
        col("source"))),
    // Wilson confidence bands around each source's English rate.
    "q189_wilson_bounds" -> ((s, d) =>
      graft.ml.Eval.wilsonBounds(Tables.documents(s, d), col("source"),
        col("lang") === "en")),
    // REAL-decode perceptual average-hash over the q63 checkerboard
    // PNGs: integer block-mean luma grid, 64-bit hash the oracle
    // reproduces arithmetically from the generation formula.
    "q190_image_ahash" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val (w, h) = (8 + (id % 40).toInt, 8 + (id % 23).toInt)
        graft.multimodal.Multimodal.MediaRow(id, "image",
          graft.multimodal.Multimodal.checkerboardPng(id, w, h), w, h, 0, 0,
          "png")
      }
      graft.multimodal.Multimodal.imageAHash(media).toDF()
    }),
    // REAL-decode per-frame audio energy + zero crossings over the q65
    // WAV fixtures (32-sample frames, ragged tail).
    "q191_audio_frames" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val samples = 64 + (id % 64).toInt
        graft.multimodal.Multimodal.MediaRow(id, "audio",
          graft.multimodal.Multimodal.toneWav(id), 0, 0, sample_rate = 8000,
          duration_ms = samples * 1000 / 8000, format = "wav")
      }
      graft.multimodal.Multimodal.audioFrameEnergy(media).toDF()
    }),
    // Perceptual exact-dup buckets: q190's hashes grouped (hamming-0
    // image duplicates with a deterministic keeper).
    "q192_ahash_buckets" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val (w, h) = (8 + (id % 40).toInt, 8 + (id % 23).toInt)
        graft.multimodal.Multimodal.MediaRow(id, "image",
          graft.multimodal.Multimodal.checkerboardPng(id, w, h), w, h, 0, 0,
          "png")
      }
      graft.multimodal.Multimodal.imageAHash(media).toDF()
        .groupBy(col("ahash"))
        .agg(count(lit(1)).as("n_images"), min(col("media_id")).as("keeper_id"))
    }),
    // GROUPING SETS with the grouping_id bitmask — the explicit-subtotal
    // surface between q39's ROLLUP and q81's CUBE.
    "q193_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("g193_lineitem")
      s.sql("""SELECT l_returnflag, l_linestatus,
          CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          COUNT(*) AS n_rows,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM g193_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          (l_returnflag), ())""")
    }),
    // Salted skew join: events fact × per-user split dim through the
    // explicit (key, salt) spread — result contract IS the plain join.
    "q194_salted_join" -> ((s, d) => {
      val users = Tables.events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id")).distinct()
      val dim = Sampling.hashSplit(users, col("user_id"), "split-",
          Seq("train" -> 80, "validation" -> 10, "test" -> 10))
        .select(col("user_id"), col("split"))
      Relations.saltedJoin(
        Tables.events(s, d).filter(col("user_id").isNotNull)
          .select(col("event_id"), col("user_id")),
        dim, "user_id", saltFactor = 8)
        .select(col("event_id"), col("user_id"), col("split"))
    }),
    // Watermark-lateness audit: arrival = event time + a deterministic
    // md5 network delay of up to 2 h (the fixture's "what the broker
    // saw"); running-max event time in arrival order, 1-hour watermark
    // verdict per stream.
    "q195_late_events" -> ((s, d) =>
      Temporal.latenessAudit(
        Tables.events(s, d).select(col("event_type"), col("event_id"),
            col("event_ts_us"))
          .withColumn("arrival_us", col("event_ts_us") +
            conv(substring(md5(concat(lit("net-"),
              col("event_id").cast("string"))), 1, 15), 16, 10)
              .cast("long") % 7200000000L),
        "event_type", Seq("arrival_us", "event_id"), "event_ts_us",
        thresholdUs = 3600000000L)),
    // Star-schema referential integrity: orphan rates for all four
    // declared FK relationships in one report.
    "q196_fk_orphans" -> ((s, d) =>
      graft.quality.Checks.fkOrphanReport(Seq(
        ("orders->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"),
        ("lineitem->orders", Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey"),
        ("lineitem->part", Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey"),
        ("lineitem->supplier", Tables.lineitem(s, d), "l_suppkey",
          Tables.supplier(s, d), "s_suppkey")))),
    // Signup→purchase conversion latency percentiles per A/B variant
    // (exact discrete percentiles through the histogram machinery).
    "q197_conversion_latency" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), col("event_ts_us"))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("event_ts_us")).as("s_ts"))
      val p1 = ev.filter(col("event_type") === "purchase")
        .join(s1, Seq("user_id"))
        .filter(col("event_ts_us") >= col("s_ts"))
        .groupBy(col("user_id"), col("s_ts"))
        .agg(min(col("event_ts_us")).as("p_ts"))
      val lat = p1.select(col("user_id"),
        (col("p_ts") - col("s_ts")).as("latency_us"))
      val split = Sampling.hashSplit(lat, col("user_id"), "ab-",
        Seq("A" -> 34, "B" -> 33, "C" -> 33))
      Analytics.groupPercentilesDisc(
        split.select(col("split"), col("latency_us"), col("user_id")),
        Seq("split"), "latency_us", Seq(50, 90))
    }),
    // idf²-weighted Jaccard pairs — boilerplate shingles stop drowning
    // the similarity signal on this templated corpus.
    "q198_weighted_jaccard" -> ((s, d) =>
      TextDedup.weightedJaccardPairs(Tables.documentsSpread(s, d),
        "doc_id", "text")),
    // Per-state next-event entropy (behavior predictability) — the q172
    // fixed-point entropy over the q112 transition stream.
    "q199_transition_entropy" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("event_ts_us").asc, col("event_id").asc)
      val pairs = Tables.events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), col("event_ts_us"),
          col("event_id"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .select(col("event_type").as("from_type"), col("to_type"))
      Sampling.mixtureEntropy(pairs, "from_type", "to_type")
    }),
    // Cross-family dedup summary: one row per dedup method (exact,
    // simhash, jaccard, containment, perceptual ahash) with pair and
    // affected-doc counts — the dataset-card dedup-pressure table.
    "q200_dedup_summary" -> ((s, d) => {
      import s.implicits._
      def pairSummary(name: String, pairs: DataFrame, a: String, b: String) =
        pairs.select(explode(array(col(a), col(b))).as("d"))
          .agg(count(lit(1)).as("__c"), countDistinct(col("d")).as("n_docs"))
          .select(lit(name).as("method"), expr("__c div 2").as("n_pairs"),
            col("n_docs"))
      def groupSummary(name: String, groups: DataFrame, nCol: String) =
        groups.filter(col(nCol) >= 2)
          .agg(
            coalesce(sum(expr(s"($nCol * ($nCol - 1)) div 2")), lit(0L))
              .as("n_pairs"),
            coalesce(sum(col(nCol)), lit(0L)).as("n_docs"))
          .select(lit(name).as("method"), col("n_pairs"), col("n_docs"))
      val docs = Tables.documentsSpread(s, d)
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val (w, h) = (8 + (id % 40).toInt, 8 + (id % 23).toInt)
        graft.multimodal.Multimodal.MediaRow(id, "image",
          graft.multimodal.Multimodal.checkerboardPng(id, w, h), w, h, 0, 0,
          "png")
      }
      val ahashGroups = graft.multimodal.Multimodal.imageAHash(media).toDF()
        .groupBy(col("ahash")).agg(count(lit(1)).as("n_images"))
      groupSummary("exact",
          TextDedup.exactDedupSummary(docs, "doc_id", "text"), "n_copies")
        .unionByName(pairSummary("simhash", simhashPairs(s, d),
          "doc_a", "doc_b"))
        // (rest of the union chain continues below)
        .unionByName(pairSummary("jaccard",
          TextDedup.jaccardNearDupPairs(docs, "doc_id", "text",
            shingleN = 2, threshold = 0.5), "doc_a", "doc_b"))
        .unionByName(pairSummary("containment",
          TextDedup.containmentPairs(docs, "doc_id", "text",
            shingleN = 2, threshold = 0.8), "doc_a", "doc_b"))
        .unionByName(groupSummary("ahash", ahashGroups, "n_images"))
    }),
    // Sketch calibration: exact distinct user-days vs the p=8 HLL
    // estimate per event type, signed ppm error — the audit before
    // swapping COUNT(DISTINCT) for the sketch.
    "q201_hll_calibration" -> ((s, d) =>
      graft.ml.Sketches.hllCalibrationReport(
        Tables.events(s, d).filter(col("user_id").isNotNull)
          .select(col("event_type"),
            concat(col("user_id").cast("string"), lit("-"),
              expr("event_ts_us div 86400000000").cast("string")).as("ud")),
        "event_type", col("ud"), p = 8)),
    // Repeat-purchase cohorts by first-order month (retention economics).
    "q202_repeat_cohorts" -> ((s, d) =>
      Analytics.repeatCohorts(Tables.orders(s, d), "o_custkey",
        "o_orderdate", "o_totalprice")),
    // Top-3 daily cent totals per event type WITH ties kept — the RANK
    // surface (row_number top-k everywhere else deliberately drops ties).
    "q203_topk_with_ties" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      dailyCents(s, d)
        .withColumn("rnk", rank().over(Window.partitionBy(col("series"))
          .orderBy(col("y_fp").desc)).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("series"), col("day"), col("y_fp"), col("rnk"))
    }),
    // Maximum drawdown of each event type's daily-cents LEVEL series:
    // flows = day-over-day changes, so the cumulative rebuilds the level
    // and peak−trough is the classic drawdown.
    "q204_max_drawdown" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("series")).orderBy(col("day").asc)
      val flows = dailyCents(s, d).withColumn("flow",
        col("y_fp") - coalesce(lag(col("y_fp"), 1).over(w), lit(0L)))
      Analytics.maxDrawdown(flows, Seq("series"), "day", "day", "flow")
    }),
    // Delta-protocol round trip: three commits (two appends, then a
    // rewrite that retires every prior file), and EVERY version is read
    // back through the log. Gates the writer's add/remove/metaData
    // emission and the reader's multi-commit replay.
    "q205_delta_log_roundtrip" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_ts_us"), col("value"))
      val root = freshScratch("q205")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice", col("event_id") % 3),
        "__slice", Seq(0, 1))
      graft.lake.DeltaLog.commitFlat(s, root,
        ev.filter(col("event_id") % 2 === 0), rewrite = true)
      Seq(0L, 1L, 2L).map(v =>
        graft.lake.DeltaLog.readAt(s, root, v)
          .withColumn("delta_version", lit(v)))
        .reduce(_ unionByName _)
    }),
    // Externally-written Delta log ingest: flat parquet files plus a
    // hand-authored checkpointless two-commit _delta_log (commitInfo/txn
    // noise, URL-encoded path, add-then-remove) — read current state via
    // the log replay. The ingest path a reference user switching engines
    // needs on day one: their existing Delta tables open as-is.
    "q206_delta_external_read" -> ((s, d) => {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      import scala.jdk.CollectionConverters._
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_ts_us"), col("value"))
      val root = freshScratch("q206")
      def flat(name: String, df: DataFrame): Unit = {
        val tmp = root + "__stage_" + name.takeWhile(_ != '.')
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = {
          val st = Files.list(Paths.get(tmp))
          try st.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          finally st.close()
        }
        Files.createDirectories(Paths.get(root))
        Files.move(part, Paths.get(root, name),
          StandardCopyOption.REPLACE_EXISTING)
      }
      flat("part-a.parquet", ev.filter(col("event_id") % 4 === 0))
      flat("part b.parquet", ev.filter(col("event_id") % 4 === 1))
      flat("part-c.parquet", ev.filter(col("event_id") % 4 === 2))
      val schemaJson = ev.schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
      def commit(v: Long, lines: Seq[String]): Unit = {
        Files.createDirectories(Paths.get(root, "_delta_log"))
        Files.write(Paths.get(root, "_delta_log", f"$v%020d.json"),
          lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      }
      commit(0L, Seq(
        """{"commitInfo":{"operation":"WRITE","engineInfo":"external"}}""",
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"ext-q206","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}""",
        """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
        """{"add":{"path":"part%20b.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
      commit(1L, Seq(
        """{"txn":{"appId":"ext","version":9}}""",
        """{"remove":{"path":"part-a.parquet","deletionTimestamp":2,"dataChange":true}}""",
        """{"add":{"path":"part-c.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""))
      graft.lake.DeltaLog.read(s, root)
    }),
    // REAL video demux, oracle-gated end-to-end: deterministic raw-DIB
    // AVI containers are assembled per doc_id (pure-JVM RIFF writer),
    // demuxed back chunk-by-chunk, and every frame's decoded dimensions
    // and exact per-channel pixel sums must equal the closed-form grid
    // arithmetic DuckDB computes from doc_id alone — a hash mismatch
    // means the container walk, the bottom-up row order, or the 4-byte
    // stride padding touched a pixel. (MJPEG frames share the same
    // demux path, JDK-JPEG-decoded; lossy, so spec-gated in AviSpec.)
    "q207_video_demux" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val (w, h, n) =
          (8 + (id % 9).toInt, 6 + (id % 7).toInt, 2 + (id % 4).toInt)
        graft.multimodal.Multimodal.MediaRow(id, "video",
          graft.multimodal.Avi.buildDib(id, w, h, n), w, h,
          sample_rate = 0, duration_ms = n * 100, format = "avi")
      }
      graft.multimodal.Avi.decodeVideoMeta(media).toDF()
    }),
    // Sketch-mode column profile — q161's report with HLL estimates in
    // place of the exact-distinct expand (the 100 TB profiler default).
    // Same normalized orders projection as q161; the fixed-point q100
    // estimator keeps every estimate an exact integer both engines
    // reproduce, so the approximate report is still hash-gated.
    "q208_profile_approx" -> ((s, d) =>
      graft.quality.Checks.profileApprox(
        Tables.orders(s, d).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("price_cents"),
          col("o_orderdate").cast("date").cast("string").as("order_date")),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "price_cents", "order_date"))),
    // Retrieval-eval metrics (nDCG@10 / MRR / recall / precision) over a
    // deterministic md5-scored ranking per language with graded doc_id%7
    // relevance — every number integer-exact through the generated
    // discount LUT, so the whole IR report card is hash-gated.
    "q209_ranking_metrics" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).select(col("lang"), col("doc_id"))
      val scored = docs.withColumn("__score",
        conv(substring(md5(concat(lit("rank-"), col("doc_id").cast("string"))),
          1, 15), 16, 10).cast("long"))
      val ranked = scored.withColumn("rank", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("__score").desc, col("doc_id").asc)))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("doc_id"), col("rank"))
      val rels = docs.select(col("lang"), col("doc_id"),
        when(col("doc_id") % 7 === 0, 2).when(col("doc_id") % 7 === 1, 1)
          .otherwise(0).as("rel"))
      graft.ml.Eval.rankingMetrics(ranked, rels, "lang", "doc_id", k = 10)
    }),
    // Fellegi–Sunter record linkage: customers vs a deterministically
    // dirtied copy (every 3rd name uppercased, every 5th segment
    // blanked), blocked on nation + name-suffix — never all-pairs. Clean
    // pairs band 'match', dirty ones 'possible', non-pairs fall below
    // the lower threshold and are dropped; all scores exact fixed-point
    // sums of build-time log weights.
    "q210_record_linkage" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val blk = concat(col("c_nationkey").cast("string"), lit("|"),
        expr("right(c_name, 2)"))
      val cents = (col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
      val a = c.select(col("c_custkey").as("id_a"), blk.as("blk"),
        col("c_name").as("name_a"), col("c_mktsegment").as("seg_a"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) " +
          "div 100000").as("bkt_a"),
        cents.as("bal_a"))
      val b = c.select((col("c_custkey") + 1000000).as("id_b"), blk.as("blk"),
        when(col("c_custkey") % 3 === 0, upper(col("c_name")))
          .otherwise(col("c_name")).as("name_b"),
        when(col("c_custkey") % 5 === 0, lit("UNKNOWN"))
          .otherwise(col("c_mktsegment")).as("seg_b"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) " +
          "div 100000").as("bkt_b"),
        cents.as("bal_b"))
      graft.text.Linkage.fellegiSunter(a, b, "id_a", "id_b", "blk",
        linkageFields, lowerFp = 10L << 20, upperFp = 16L << 20)
    }),
    // PMI collocations: top-50 bigram phrases by the exact 2^20-scaled
    // c_xy·N²/(B·c_x·c_y) ratio (log-free PMI ranking), minCount 5.
    "q211_pmi_collocations" -> ((s, d) =>
      TextStats.pmiCollocations(Tables.documentsSpread(s, d),
        "doc_id", "text", minCount = 5, topK = 50)),
    // MinHash corpus-overlap matrix — q144's sketch sibling: |sources|·64
    // signature state instead of the posting self-join, pairwise
    // agreement as the Jaccard estimate, every value exact cross-engine
    // through the mod-prime permutations.
    "q212_minhash_source_sim" -> ((s, d) =>
      SparseSim.minhashSourceSimilarity(Tables.documentsSpread(s, d),
        "source", "text")),
    // Trailing 7-day z-score anomalies on daily revenue per event type:
    // each day vs the previous week's mean/σ, the sqrt-free integer
    // inequality — is_outlier NULL until 4 predecessors exist.
    "q213_rolling_z_outliers" -> ((s, d) =>
      Temporal.rollingZOutliers(dailyCents(s, d), Seq("series"), "day",
        "y_fp", window = 7, z = 2, minPoints = 4)),
    // ANN index report card: rankingMetrics grades the sign-LSH index
    // (q52's exact configuration) against brute-force top-5 truth (q25)
    // — recall@5 / MRR / nDCG per query, the table a team reads before
    // trusting an approximate index at 100 TB. Composes three gated
    // operators; the oracle replays both rankings and the metric
    // arithmetic end-to-end.
    "q214_ann_recall" -> ((s, d) => {
      val em = Tables.embeddingsSpread(s, d)
      val corpus = em.filter(col("vec_id") >= 10)
      val queries = em.filter(col("vec_id") < 10)
      val lsh = Similarity.annTopKLsh(corpus, queries, 5, planes = 6,
          tables = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val exact = Similarity.annTopK(corpus, queries, 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("rel"))
      graft.ml.Eval.rankingMetrics(lsh, exact, "query_id", "neighbor_id",
        k = 5)
    }),
    // k-anonymity screen on the (nation, segment, thousand-dollar
    // balance bucket) quasi-identifier combination at k=5 — the
    // re-identification report before a customer extract ships.
    "q215_k_anonymity" -> ((s, d) =>
      graft.quality.Checks.kAnonymity(
        Tables.customer(s, d).select(col("c_nationkey"),
          col("c_mktsegment"),
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) " +
            "div 100000").as("bal_bucket")),
        Seq("c_nationkey", "c_mktsegment", "bal_bucket"), k = 5)),
    // Grid-bucketed geo radius join: customers within 300 km of a
    // supplier (md5-derived deterministic coordinates in the ±60° band),
    // 3x3 neighbor-cell equi-join + exact haversine — the oracle is the
    // quadratic formulation, so completeness of the grid is part of the
    // gate.
    "q218_geo_radius_join" -> ((s, d) => {
      def coords(df: DataFrame, id: String) = df.select(col(id),
        (conv(substring(md5(concat(lit("lat-"), col(id).cast("string"))),
          1, 15), 16, 10).cast("long") % 120000001L / lit(1000000.0) - 60.0)
          .as("lat"),
        (conv(substring(md5(concat(lit("lon-"), col(id).cast("string"))),
          1, 15), 16, 10).cast("long") % 360000001L / lit(1000000.0) - 180.0)
          .as("lon"))
      Relations.geoRadiusJoin(
        coords(Tables.customer(s, d), "c_custkey"),
        coords(Tables.supplier(s, d), "s_suppkey"),
        "c_custkey", "s_suppkey", radiusKm = 300.0)
    }),
    // Top 20 three-step user paths through the event stream — the
    // sankey readout; one window pass, TakeOrdered top-k.
    "q219_top_paths" -> ((s, d) =>
      Analytics.topPaths(
        Tables.events(s, d).select(col("user_id"), col("event_ts_us"),
          col("event_id"), col("event_type")),
        "user_id", "event_ts_us", "event_id", "event_type",
        len = 3, k = 20)),
    // Cumulative distinct purchasers by day: first-seen min-agg, never a
    // history re-scan per period.
    "q220_running_distinct" -> ((s, d) =>
      Analytics.runningDistinct(
        Tables.events(s, d)
          .filter(col("event_type") === "purchase" &&
            col("user_id").isNotNull && col("event_ts_us").isNotNull)
          .select(expr("event_ts_us div 86400000000").as("day"),
            col("user_id")),
        "day", "user_id")),
    // Two-sample KS drift test on purchase-vs-view value distributions
    // — the shape complement of q230's mean test, exact cross-multiplied
    // integers.
    // Delta CHECKPOINT read: five commits, a parquet checkpoint every
    // two (Spark's own 10-commit cadence, shortened), then the JSON
    // commits below the newest checkpoint are DELETED — the compacted
    // mature-table shape. The read must reconstruct state from the
    // checkpoint + JSON tail; the oracle is the whole table (the five
    // pmod slices are a total partition of events).
    "q246_delta_checkpoint_read" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_ts_us"), col("value"))
      val root = freshScratch("q246")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice",
          pmod(coalesce(col("event_id"), lit(0L)), lit(5))),
        "__slice", Seq(0, 1, 2, 3, 4),
        configuration = Map("delta.checkpointInterval" -> "2"))
      (0L to 3L).foreach(v => java.nio.file.Files.delete(
        java.nio.file.Paths.get(root, "_delta_log", f"$v%020d.json")))
      graft.lake.DeltaLog.read(s, root)
    }),
    // PARTITIONED Delta table: events committed hive-partitioned by
    // event_type (partitionValues in every add, partitionColumns in
    // metaData), read back via the log with the partition column
    // reattached as typed literals, filtered to two partitions — the
    // filter prunes the other partitions' scans at plan time
    // (DeltaLogSpec pins the pruning via the executed scan's numFiles).
    "q247_delta_partitioned_read" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("value"), col("event_type"))
      val root = freshScratch("q247")
      graft.lake.DeltaLog.commitPartitioned(s, root, ev, Seq("event_type"))
      graft.lake.DeltaLog.read(s, root)
        .filter(col("event_type").isin("purchase", "view"))
    }),
    // Strongly connected components (FW-BW coloring fixpoint) over the
    // directed part-succession graph: within each order, the part on
    // line i points at the part on line i+1; restricted to partkeys
    // <= 500 so the gate graph is a fixed 500-node universe at every
    // SF. The oracle is the brute-force recursive-CTE closure with
    // mutual-reachability grouping — cycle structure CC cannot see.
    // Metadata-only COUNT(*) from the Delta LOG alone: adds carry
    // footer-derived stats (numRecords/min/max), so the count reads
    // zero footers and zero data pages — q225's metadata count taken
    // one level further up the stack.
    "q251_delta_stats_count" -> ((s, d) => {
      val root = freshScratch("q251")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        Tables.events(s, d).withColumn("__slice",
          pmod(coalesce(col("event_id"), lit(0L)), lit(2))),
        "__slice", Seq(0, 1))
      graft.lake.DeltaLog.statsCount(s, root).select(col("n_rows"))
    }),
    // Delta data skipping: four appends with DISJOINT event_id ranges,
    // then a range read that prunes non-overlapping FILES from the scan
    // via the adds' min/max stats before any IO (DeltaLogSpec pins the
    // scanned-file count; this gates the surviving rows).
    "q252_delta_skipping_read" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_ts_us"), col("value"))
      val root = freshScratch("q252")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.filter(col("event_id") >= 0L).withColumn("__slice",
          when(col("event_id") < 2500L, 0)
            .when(col("event_id") < 5000L, 1)
            .when(col("event_id") < 7500L, 2).otherwise(3)),
        "__slice", Seq(0, 1, 2, 3))
      graft.lake.DeltaLog.read(s, root)
        .where(col("event_id").between(3000L, 6000L))
    }),
    // SCC size histogram over the q248 graph: (size, n_sccs) — the
    // cycle-structure readout (how much of the graph sits in
    // nontrivial cycles vs singletons).
    "q257_scc_sizes" -> ((s, d) =>
      graft.graphs.Scc.sizeHistogram(sccLineitemEdges(s, d))),
    // Copy-on-write UPDATE with file skipping: zero out value for an
    // event_id range, pass everything else through bit-identical; the
    // oracle is the CASE expression over the whole table.
    "q255_delta_update_where" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_ts_us"), col("value"))
      val root = freshScratch("q255")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice",
          pmod(coalesce(col("event_id"), lit(0L)), lit(3))),
        "__slice", Seq(0, 1, 2))
      graft.lake.DeltaLog.updateWhereLong(s, root, "event_id", 2000L, 4000L,
        Map("value" -> lit(0.0)))
      graft.lake.DeltaLog.read(s, root)
    }),
    // Incremental append tail: three appends, read only what landed
    // after delta version 0 — the between-runs consumption surface an
    // incremental downstream job uses instead of a full rescan.
    "q256_delta_appends_since" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_ts_us"), col("value"))
      val root = freshScratch("q256")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice",
          pmod(coalesce(col("event_id"), lit(0L)), lit(3))),
        "__slice", Seq(0, 1, 2))
      graft.lake.DeltaLog.readAppendsSince(s, root, 0L)
    }),
    // Copy-on-write DELETE with file skipping: whole events committed
    // as pmod slices (total partition), then DELETE event_id in
    // [3000, 6000] — only stat-overlapping files rewrite (NULL ids
    // survive, mirrored in the oracle); the read-back must equal the
    // complement.
    "q253_delta_delete_where" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_ts_us"), col("value"))
      val root = freshScratch("q253")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice",
          pmod(coalesce(col("event_id"), lit(0L)), lit(3))),
        "__slice", Seq(0, 1, 2))
      graft.lake.DeltaLog.deleteWhereLong(s, root, "event_id", 3000L, 6000L)
      graft.lake.DeltaLog.read(s, root)
    }),
    // CHANGE DATA FEED round-trip: a CDF-enabled table built from
    // lineitem slices takes an UPDATE (prices doubled in one key range)
    // and a DELETE (a disjoint range), then a blind append; the feed
    // must replay every row-level change — inserts synthesized from
    // adds, update pre/postimages and deletes from the CDC files the
    // DML wrote. Fingerprinted per (change_type, commit_version) with
    // DECIMAL(18,2) money sums; ranges are disjoint so the oracle can
    // reconstruct each image from the base table alone.
    "q263_delta_cdf" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          col("l_extendedprice").cast("decimal(18,2)").as("l_extendedprice"))
      def slice(i: Int) =
        li.filter(pmod(coalesce(col("l_orderkey"), lit(0L)), lit(3)) === i)
      val root = freshScratch("q263")
      // range-partitioned base write → disjoint l_orderkey stats, so
      // the DML below rewrites only genuinely overlapping files
      graft.lake.DeltaLog.commitFlat(s, root,
        slice(0).unionByName(slice(1))
          .repartitionByRange(4, col("l_orderkey")),
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
      graft.lake.DeltaLog.updateWhereLong(s, root, "l_orderkey", 100L, 2000L,
        Map("l_extendedprice" -> (col("l_extendedprice") * 2)))
      graft.lake.DeltaLog.deleteWhereLong(s, root, "l_orderkey", 3000L, 6000L)
      graft.lake.DeltaLog.commitFlat(s, root, slice(2))
      graft.lake.DeltaLog.readChangeFeed(s, root, -1L)
        .groupBy(col("_change_type").as("change_type"),
          col("_commit_version").as("commit_version"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_extendedprice")).cast("decimal(18,2)").as("sum_price"))
    }),
    // RESTORE: the same slices take a copy-on-write DELETE, a DV
    // DELETE and an UPDATE, then roll back to version 0 in ONE
    // metadata-only commit — the read-back must be the untouched base
    // (both DML flavors and the descriptor swap undone), proving the
    // restore re-adds exactly the original active set.
    "q264_delta_restore" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_ts_us"), col("value"))
      val root = freshScratch("q264")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice",
          pmod(coalesce(col("event_id"), lit(0L)), lit(3))),
        "__slice", Seq(0, 1, 2))
      graft.lake.DeltaLog.deleteWhereLong(s, root, "event_id", 3000L, 6000L)
      graft.lake.DeltaLog.updateWhereLong(s, root, "event_id", 100L, 200L,
        Map("value" -> lit(0.0)))
      // DV delete LAST: copy-on-write DML refuses DV'd files by design
      graft.lake.DeltaLog.deleteWhereLongDV(s, root, "event_id", 7000L, 7500L)
      graft.lake.DeltaLog.restore(s, root, 2L)
      graft.lake.DeltaLog.read(s, root)
    }),
    // DESCRIBE HISTORY × CHANGE FEED: three CDF-enabled appends, a
    // DELETE and an UPDATE; the history's (version, operation)
    // provenance joined with per-commit change counts from the feed —
    // every number reconstructable from events alone (appends insert
    // their slice, the delete its range, the update 2× its range for
    // pre+postimages).
    "q265_delta_history" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
      val root = freshScratch("q265")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice",
          pmod(coalesce(col("event_id"), lit(0L)), lit(3))),
        "__slice", Seq(0, 1, 2),
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
      graft.lake.DeltaLog.deleteWhereLong(s, root, "event_id", 3000L, 6000L)
      graft.lake.DeltaLog.updateWhereLong(s, root, "event_id", 100L, 200L,
        Map("value" -> lit(0.0)))
      val h = graft.lake.DeltaLog.history(s, root)
        .select(col("version"), col("operation"))
      val changes = graft.lake.DeltaLog.readChangeFeed(s, root, -1L)
        .groupBy(col("_commit_version").as("version"))
        .agg(count(lit(1)).as("n_changes"))
      h.join(changes, Seq("version"), "left")
        .select(col("version"), col("operation"),
          coalesce(col("n_changes"), lit(0L)).as("n_changes"))
    }),
    // CDF-DRIVEN INCREMENTAL AGGREGATE: the gold-view production
    // pattern — a per-customer COUNT/SUM view maintained purely from
    // the change feed (delta rule: inserts/postimages add, deletes/
    // preimages subtract, signed long cents exact and commutative),
    // folded in two feed batches split mid-history; must equal a
    // recompute over the table's final state (the oracle).
    "q266_cdf_incremental_agg" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val root = freshScratch("q266")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        o.withColumn("__slice",
          pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3))),
        "__slice", Seq(0, 1, 2),
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
      graft.lake.DeltaLog.deleteWhereLong(s, root, "o_orderkey", 3000L, 6000L)
      graft.lake.DeltaLog.updateWhereLong(s, root, "o_orderkey", 100L, 2000L,
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      val batchA = graft.lake.DeltaLog.readChangeFeed(s, root, -1L, 2L)
      val batchB = graft.lake.DeltaLog.readChangeFeed(s, root, 2L)
      val st1 = graft.pipeline.Medallion.applyChangesCents(
        None, batchA, Seq("o_custkey"), "o_totalprice")
      graft.pipeline.Medallion.applyChangesCents(
        Some(st1), batchB, Seq("o_custkey"), "o_totalprice")
    }),
    // DURABLE CDF CONSUMER: q266's fold as the production runner —
    // state is a Delta table whose txn watermark records the last
    // source version consumed; refreshes interleave with the source's
    // appends/DML and the final refresh is REPLAYED (must be a no-op).
    // Same oracle as a recompute over the final source state.
    "q267_durable_cdf_view" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      def slice(i: Int) =
        o.filter(pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3)) === i)
      val root = freshScratch("q267")
      val (src, dir) = (s"$root/src", s"$root/view")
      graft.lake.DeltaLog.commitFlat(s, src, slice(0),
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
      graft.pipeline.CdfView.refreshDurable(s, dir, src,
        Seq("o_custkey"), "o_totalprice")
      graft.lake.DeltaLog.commitFlatSlices(s, src,
        o.withColumn("__slice",
          pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3))),
        "__slice", Seq(1, 2))
      graft.lake.DeltaLog.deleteWhereLong(s, src, "o_orderkey", 3000L, 6000L)
      graft.pipeline.CdfView.refreshDurable(s, dir, src,
        Seq("o_custkey"), "o_totalprice")
      graft.lake.DeltaLog.updateWhereLong(s, src, "o_orderkey", 100L, 2000L,
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      graft.pipeline.CdfView.refreshDurable(s, dir, src,
        Seq("o_custkey"), "o_totalprice")
      // foreachBatch redelivery: the replay must not double-apply
      graft.pipeline.CdfView.refreshDurable(s, dir, src,
        Seq("o_custkey"), "o_totalprice")
    }),
    // SHALLOW CLONE: commit 0 of the clone re-declares the source's
    // schema and re-adds its active files by ABSOLUTE path — zero data
    // copied at any scale. The clone then diverges independently via
    // copy-on-write DML (rewrites land under the clone's root, reading
    // the source's files in place); the source must read back
    // untouched. Output = source ∪ post-DML clone, side-tagged.
    "q268_delta_shallow_clone" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      val root = freshScratch("q268")
      val (src, cln) = (s"$root/src", s"$root/clone")
      graft.lake.DeltaLog.commitFlatSlices(s, src,
        li.withColumn("__slice",
          pmod(coalesce(col("l_orderkey"), lit(0L)), lit(3))),
        "__slice", Seq(0, 1, 2))
      graft.lake.DeltaLog.shallowClone(s, src, cln)
      graft.lake.DeltaLog.deleteWhereLong(s, cln, "l_orderkey", 3000L, 6000L)
      graft.lake.DeltaLog.updateWhereLong(s, cln, "l_orderkey", 100L, 2000L,
        Map("l_extendedprice" -> (col("l_extendedprice") * 2)))
      graft.lake.DeltaLog.read(s, src).withColumn("side", lit("source"))
        .unionByName(
          graft.lake.DeltaLog.read(s, cln).withColumn("side", lit("clone")))
        .select(col("side"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
    }),
    // MERGE INTO (whole-row upsert on o_orderkey): base = slices 0+1;
    // source = the [100,2000] slice-0/1 keys with doubled price
    // (updates) ∪ slice 2 (inserts). Final state must equal all of
    // orders with the doubled range — matched rows replaced whole,
    // unmatched inserted, stats-pruned files untouched.
    "q269_delta_merge" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      def slice(i: Int) =
        o.filter(pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3)) === i)
      val root = freshScratch("q269")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        o.withColumn("__slice",
          pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3))),
        "__slice", Seq(0, 1))
      val updates = o.filter(col("o_orderkey").between(100L, 2000L) &&
          pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3)) =!= 2)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.lake.DeltaLog.mergeKey(s, root, "o_orderkey",
        updates.unionByName(slice(2)))
      graft.lake.DeltaLog.read(s, root)
    }),
    // MERGE × CHANGE FEED: the same merge on a CDF-enabled table; the
    // merge commit's feed must carry the matched rows as update
    // pre/postimages and the slice-2 rows as inserts — counted and
    // cents-summed per change type (exact long cents, q266 discipline).
    "q270_delta_merge_cdf" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      def slice(i: Int) =
        o.filter(pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3)) === i)
      val root = freshScratch("q270")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        o.withColumn("__slice",
          pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3))),
        "__slice", Seq(0, 1),
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
      val updates = o.filter(col("o_orderkey").between(100L, 2000L) &&
          pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3)) =!= 2)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.lake.DeltaLog.mergeKey(s, root, "o_orderkey",
        updates.unionByName(slice(2)))
      graft.lake.DeltaLog.readChangeFeed(s, root, 1L)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("cents"))
    }),
    // STRING-KEY MERGE: the reference's real S4 shape (silver_orders
    // merges on STRING order_id) — same fold as q269 but the key is
    // 'O-<orderkey>'; candidates prune via truncation-enclosing string
    // stats ranges + footer key blooms before the exact semi-join
    // probe (DeltaDmlScaleSpec pins the O(matching) candidate count).
    "q283_delta_merge_string" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      def slice(i: Int) =
        base.filter(pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3)) === i)
      def toStr(df: org.apache.spark.sql.DataFrame) =
        df.select(concat(lit("O-"), col("o_orderkey").cast("string"))
          .as("oid"), col("o_custkey"), col("o_totalprice"))
      val root = freshScratch("q283")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        base.withColumn("__slice",
            pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3)))
          .select(concat(lit("O-"), col("o_orderkey").cast("string"))
            .as("oid"), col("o_custkey"), col("o_totalprice"),
            col("__slice")),
        "__slice", Seq(0, 1))
      val updates = base.filter(col("o_orderkey").between(100L, 2000L) &&
          pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3)) =!= 2)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.lake.DeltaLog.mergeKey(s, root, "oid",
        toStr(updates).unionByName(toStr(slice(2))))
      graft.lake.DeltaLog.read(s, root)
    }),
    // STRING point lookup × merge-written BLOOMS: hash-interleaved
    // slices make every file's string stats range span the key space,
    // so the footer bloom is the only thing that prunes; the string
    // merge doubles 100..200, writing key blooms on its own output,
    // then a point read serves 'ord-150' from the merged
    // state. Result = full table UNION ALL the point row.
    "q288_delta_bloom_string" -> ((s, d) => {
      val base = Tables.orders(s, d).filter(col("o_orderkey").isNotNull)
      def shaped(df: org.apache.spark.sql.DataFrame) =
        df.select(concat(lit("ord-"), col("o_orderkey").cast("string"))
          .as("okey"), col("o_custkey"), col("o_totalprice"))
      val root = freshScratch("q288")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        base.withColumn("__slice", pmod(col("o_orderkey"), lit(4)))
          .select(concat(lit("ord-"), col("o_orderkey").cast("string"))
            .as("okey"), col("o_custkey"), col("o_totalprice"),
            col("__slice")),
        "__slice", Seq(0, 1, 2, 3),
        writeOptions = graft.lake.DeltaLog.bloomOptions(Seq("okey")))
      graft.lake.DeltaLog.mergeKey(s, root, "okey",
        shaped(base.filter(col("o_orderkey").between(100L, 200L))
          .withColumn("o_totalprice", col("o_totalprice") * 2)))
      graft.lake.DeltaLog.read(s, root).unionByName(
        graft.lake.DeltaLog.read(s, root).where(col("okey") === "ord-150"))
    }),
    // INT-key MERGE + point read: the reference's dimension surrogate
    // keys are ints (services/catalog/app/api/products.py id lookups) —
    // the same two skipping layers as q288 (numeric stats range +
    // footer bloom, hashed by the file's INT32 physical form) prune an
    // int-key upsert; DeltaDmlScaleSpec pins candidates O(matching).
    "q295_delta_merge_int" -> ((s, d) => {
      val base = Tables.orders(s, d).filter(col("o_orderkey").isNotNull)
      def shaped(df: org.apache.spark.sql.DataFrame) =
        df.select(col("o_orderkey").cast("int").as("okey"),
          col("o_custkey"), col("o_totalprice"))
      val root = freshScratch("q295")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        base.withColumn("__slice", pmod(col("o_orderkey"), lit(4)))
          .select(col("o_orderkey").cast("int").as("okey"),
            col("o_custkey"), col("o_totalprice"), col("__slice")),
        "__slice", Seq(0, 1, 2, 3),
        writeOptions = graft.lake.DeltaLog.bloomOptions(Seq("okey")))
      graft.lake.DeltaLog.mergeKey(s, root, "okey",
        shaped(base.filter(col("o_orderkey").between(100L, 200L))
          .withColumn("o_totalprice", col("o_totalprice") * 2)))
      graft.lake.DeltaLog.read(s, root).unionByName(
        graft.lake.DeltaLog.read(s, root).where(col("okey") === 150))
    }),
    // NESTED STREAMING into a NAME-MAPPED sink — the last cell of the
    // nested × mapped × streaming matrix (q289 batch nested-mapped DML
    // × q293 nested streaming): the silver items shape streams into a
    // PRE-CREATED column-mapped table; the sink stages files under the
    // declared physical names at every nesting level (col-oid /
    // col-items<col-pid, col-qty>), and the gate reads the destination
    // back LOGICALLY through the mapping.
    "q296_delta_stream_nested_mapped" -> ((s, d) =>
      streamNestedIntoMapped(s, d, "q296", "name")),
    // The ID-MODE sibling: staged files additionally record parquet
    // FIELD IDS at every nesting level — the table's readers resolve
    // by id, names are not authoritative (DeltaStreamSpec pins the
    // junk-named variant).
    "q297_delta_stream_nested_mapped_id" -> ((s, d) =>
      streamNestedIntoMapped(s, d, "q297", "id")),
    // VACUUM: two appends, a range DELETE (rewrites its touched
    // files), then a zero-retention vacuum physically reclaims the
    // tombstoned sources — and the post-vacuum read must be byte-true
    // (README.md:295 recommends OPTIMIZE/VACUUM maintenance; retention
    // semantics are DeltaLogSpec's matrix).
    "q298_delta_vacuum" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      val root = freshScratch("q298")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice", pmod(col("event_id"), lit(2))),
        "__slice", Seq(0, 1))
      graft.lake.DeltaLog.deleteWhereLong(s, root, "event_id",
        1000L, 2000L)
      val gone = graft.lake.DeltaLog.vacuum(s, root)
      require(gone.nonEmpty,
        "q298: the delete-rewritten sources must physically reclaim")
      graft.lake.DeltaLog.read(s, root)
    }),
    // TIMESTAMP time travel: three ICT commits (the inCommitTimestamp
    // chain is STRICTLY monotonic — max(wall clock, pred+1) — so the
    // mid-history timestamp resolves version 1 deterministically even
    // when commits land in the same millisecond); the read at v1's own
    // recorded timestamp is Delta's latest-commit-≤-ts rule.
    // ICT precedence over lying file mtimes is DeltaLogSpec's matrix.
    "q299_delta_read_asof" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      val root = freshScratch("q299")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice", pmod(col("event_id"), lit(3))),
        "__slice", Seq(0, 1, 2),
        configuration = Map("delta.enableInCommitTimestamps" -> "true"))
      val ts1 = graft.lake.DeltaLog.history(s, root)
        .filter(col("version") === 1L).head().getLong(2)
      graft.lake.DeltaLog.readAsOf(s, root, ts1)
    }),
    // CONJUNCTIVE skipping read: real predicates are conjunctions —
    // the table's file index intersects the partition-value prune with
    // the numeric stats range at planning, so the file set is the
    // intersection of what each column prunes alone (DeltaLogSpec pins
    // the scanned-file count below either single-column prune).
    "q300_delta_read_where" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("value"), col("event_type"))
        .filter(col("event_id").isNotNull)
      val root = freshScratch("q300")
      graft.lake.DeltaLog.commitPartitionedSlices(s, root,
        ev.withColumn("__slice", pmod(col("event_id"), lit(2))),
        "__slice", Seq(0, 1), Seq("event_type"))
      graft.lake.DeltaLog.read(s, root).where(
        col("event_id").between(100L, 5000L) &&
          col("event_type") === "purchase")
    }),
    // NULL-presence skipping read: the driver testdata's events carry
    // NULL event_ids — committed as their own file here, so the
    // IS NOT NULL filter's nullCount check drops that file before any
    // data IO (DeltaLogSpec pins the scanned-file count); the filter
    // itself keeps the result exact either way.
    "q301_delta_read_notnull" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
      val root = freshScratch("q301")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice",
          col("event_id").isNotNull.cast("int")),
        "__slice", Seq(0, 1))
      graft.lake.DeltaLog.read(s, root).where(col("event_id").isNotNull)
    }),
    // METADATA cleanup (delta.logRetentionDuration): after the
    // checkpoint-boundary cut reclaims the expired JSON prefix, the
    // CURRENT snapshot must read identically from the retained
    // checkpoint + tail alone — zero-retention here makes the whole
    // prefix expired deterministically (no mtime aging in a gate).
    "q302_delta_log_cleanup" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      val root = freshScratch("q302")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice", pmod(col("event_id"), lit(3))),
        "__slice", Seq(0, 1, 2))
      graft.lake.DeltaLog.checkpoint(s, root, 2L)
      val gone = graft.lake.DeltaLog.cleanUpExpiredLogs(s, root, 0L)
      require(gone.nonEmpty,
        "q302: the expired commit prefix must be reclaimed")
      graft.lake.DeltaLog.read(s, root)
    }),
    // IN-LIST skipping read: an IN keeps a file only when SOME listed
    // value lands in its stats range AND survives its footer bloom
    // (exact negatives), string lists likewise ASCII-guarded — the
    // pmod-split files here have fully overlapping event_id ranges, so
    // the blooms do the pruning (DeltaLogSpec pins the scanned-file
    // counts for both layers); the isin filter itself is exact.
    "q303_delta_read_in" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("value"), col("event_type"))
        .filter(col("event_id").isNotNull)
      val root = freshScratch("q303")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice", pmod(col("event_id"), lit(4))),
        "__slice", Seq(0, 1, 2, 3),
        writeOptions = graft.lake.DeltaLog.bloomOptions(
          Seq("event_id"), ndv = 4096),
        onePerSlice = true)
      graft.lake.DeltaLog.read(s, root).where(
        col("event_id").isin(4L, 8L, 1001L, 2005L) &&
          col("event_type").isin("purchase", "view", "click"))
    }),
    // AUTO-CHECKPOINT (delta.checkpointInterval): with the property
    // declared, the third commit's lag past the last checkpoint
    // reaches the interval and the writer compacts the log by itself;
    // the gate requires the checkpoint materialized, then reads the
    // snapshot THROUGH it (DeltaLogSpec pins lag semantics, the v2
    // form and the undeclared-table no-op).
    "q304_delta_auto_checkpoint" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      val root = freshScratch("q304")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice", pmod(col("event_id"), lit(3))),
        "__slice", Seq(0, 1, 2),
        configuration = Map("delta.checkpointInterval" -> "2"))
      import scala.jdk.CollectionConverters._
      val logd = java.nio.file.Paths.get(root, "_delta_log")
      val ls = java.nio.file.Files.list(logd)
      val hasCp =
        try ls.iterator().asScala.exists(
          _.getFileName.toString.contains(".checkpoint."))
        finally ls.close()
      require(hasCp, "q304: the declared interval must auto-checkpoint")
      graft.lake.DeltaLog.read(s, root)
    }),
    // CDF by TIMESTAMP window: the feed from the UPDATE commit's
    // inCommitTimestamp onward (Delta's startingTimestamp rule —
    // first commit at or after the bound opens the window) carries
    // the update images and the delete, never the insert history;
    // ICT makes the resolution deterministic (DeltaLogSpec pins the
    // window bounds and empty-window refusals).
    "q305_delta_cdf_asof" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val root = freshScratch("q305")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        o.withColumn("__slice",
          pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3))),
        "__slice", Seq(0, 1, 2),
        configuration = Map(
          "delta.enableChangeDataFeed" -> "true",
          "delta.enableInCommitTimestamps" -> "true"))
      graft.lake.DeltaLog.updateWhereLong(s, root, "o_orderkey",
        100L, 2000L, Map("o_totalprice" -> (col("o_totalprice") * 2)))
      graft.lake.DeltaLog.deleteWhereLong(s, root, "o_orderkey",
        3000L, 6000L)
      val ictTxt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "_delta_log",
          f"${3L}%020d.json")), "UTF-8")
      val fromTs = """"inCommitTimestamp":(\d+)""".r
        .findFirstMatchIn(ictTxt).get.group(1).toLong
      graft.lake.DeltaLog.readChangeFeedAsOf(s, root, fromTs)
        .groupBy(col(graft.lake.DeltaLog.ChangeTypeCol).as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("cents"))
    }),
    // RESTORE by TIMESTAMP: the table rolls back to the snapshot the
    // mid-history inCommitTimestamp resolves (latest commit at or
    // before it — the same rule as q299's read), and the post-restore
    // read IS that snapshot.
    "q306_delta_restore_asof" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      val root = freshScratch("q306")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice", pmod(col("event_id"), lit(3))),
        "__slice", Seq(0, 1, 2),
        configuration = Map("delta.enableInCommitTimestamps" -> "true"))
      val ictTxt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "_delta_log",
          f"${1L}%020d.json")), "UTF-8")
      val ts1 = """"inCommitTimestamp":(\d+)""".r
        .findFirstMatchIn(ictTxt).get.group(1).toLong
      graft.lake.DeltaLog.restoreAsOf(s, root, ts1)
      graft.lake.DeltaLog.read(s, root)
    }),
    // COLUMN DDL on a mapped table: RENAME and DROP are metaData-only
    // commits — the physical layout (what the data files store, what
    // stats and blooms key by) never moves; reads project the new
    // logical shape over the untouched files (DeltaLogSpec pins
    // zero-file-movement, fresh-id re-adds and the refusal matrix).
    "q307_delta_column_ddl" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("value"), col("event_type"))
        .filter(col("event_id").isNotNull)
      val root = freshScratch("q307")
      graft.lake.DeltaLog.commitFlat(s, root, ev,
        configuration = Map("delta.columnMapping.mode" -> "name"))
      graft.lake.DeltaLog.renameColumn(s, root, "value", "score")
      graft.lake.DeltaLog.dropColumn(s, root, "event_type")
      graft.lake.DeltaLog.read(s, root)
    }),
    // STREAMING from a TIMESTAMP: the source opens at the first commit
    // at or after the middle commit's inCommitTimestamp (Delta's
    // startingTimestamp option) — the stream carries the last two
    // thirds, never the creation commit (DeltaStreamSpec pins the
    // future-bound and mutual-exclusion rules).
    "q308_delta_stream_since_ts" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      val root = freshScratch("q308")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice", pmod(col("event_id"), lit(3))),
        "__slice", Seq(0, 1, 2),
        configuration = Map("delta.enableInCommitTimestamps" -> "true"))
      val ictTxt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "_delta_log",
          f"${1L}%020d.json")), "UTF-8")
      val ts1 = """"inCommitTimestamp":(\d+)""".r
        .findFirstMatchIn(ictTxt).get.group(1).toLong
      val name = s"q308_sink_${System.nanoTime()}"
      val q = s.readStream
        .format("graft.streaming.DeltaStreamProvider")
        .option("path", root)
        .option("startingTimestamp", ts1.toString).load()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(name)
    }),
    // SYMLINK MANIFEST (GENERATE symlink_format_manifest): the
    // Presto/Athena interop listing — after a CoW delete, reading the
    // parquet files the manifests enumerate (no _delta_log in the
    // loop) reproduces the snapshot exactly; DV'd actives refuse
    // (DeltaLogSpec pins the per-partition layout, stale-manifest
    // removal and the refusal).
    "q309_delta_symlink_manifest" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      val root = freshScratch("q309")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice", pmod(col("event_id"), lit(3))),
        "__slice", Seq(0, 1, 2))
      graft.lake.DeltaLog.deleteWhereLong(s, root, "event_id",
        1000L, 2000L)
      import scala.jdk.CollectionConverters._
      val manifests = graft.lake.DeltaLog.generateSymlinkManifest(s, root)
      val paths = manifests.flatMap(r => java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get(root, r)).asScala)
      s.read.parquet(paths: _*)
    }),
    // SHALLOW CLONE at VERSION AS OF: the clone's commit 0 pins the
    // source's MID-HISTORY state (two of three thirds) with zero data
    // copies; later source commits never leak into it.
    "q310_delta_clone_asof" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      val root = freshScratch("q310")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice", pmod(col("event_id"), lit(3))),
        "__slice", Seq(0, 1, 2))
      val tgt = freshScratch("q310_clone")
      graft.lake.DeltaLog.shallowClone(s, root, tgt, version = 1L)
      graft.lake.DeltaLog.read(s, tgt)
    }),
    // SET TBLPROPERTIES mid-life: CDF turns ON at the property commit
    // (the protocol floor co-bumps to 4 — DeltaLogSpec pins it) and
    // the feed from that version carries exactly the post-enablement
    // update images; nothing before it leaks in.
    "q311_delta_set_properties" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val root = freshScratch("q311")
      graft.lake.DeltaLog.commitFlat(s, root,
        o.filter(col("o_orderkey").isNotNull))
      val vCdf = graft.lake.DeltaLog.setTableProperties(s, root,
        Map("delta.enableChangeDataFeed" -> "true"))
      graft.lake.DeltaLog.updateWhereLong(s, root, "o_orderkey",
        100L, 2000L, Map("o_totalprice" -> (col("o_totalprice") * 2)))
      graft.lake.DeltaLog.readChangeFeed(s, root, vCdf)
        .groupBy(col(graft.lake.DeltaLog.ChangeTypeCol).as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("cents"))
    }),
    // AUTO-MANIFEST (delta.symlinkFormatManifest.enabled): once the
    // property is set mid-life, every data commit regenerates the
    // symlink manifests by itself — the gate never calls generate;
    // after two appends and a CoW delete the manifests alone
    // reproduce the snapshot (DeltaLogSpec pins the DV refusals both
    // ways).
    "q312_delta_auto_manifest" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      def third(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === i)
      val root = freshScratch("q312")
      graft.lake.DeltaLog.commitFlat(s, root, third(0))
      graft.lake.DeltaLog.setTableProperties(s, root,
        Map("delta.symlinkFormatManifest.enabled" -> "true"))
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice", pmod(col("event_id"), lit(3))),
        "__slice", Seq(1, 2))
      graft.lake.DeltaLog.deleteWhereLong(s, root, "event_id",
        1000L, 2000L)
      import scala.jdk.CollectionConverters._
      val mf = java.nio.file.Paths.get(root,
        "_symlink_format_manifest", "manifest")
      require(java.nio.file.Files.exists(mf),
        "q312: the data commits must have regenerated the manifest")
      val paths = java.nio.file.Files.readAllLines(mf).asScala.toSeq
      s.read.parquet(paths: _*)
    }),
    // FILE-GRANULAR ADMISSION: one fat commit (8 files) drains through
    // maxFilesPerTrigger=3 in ceil(8/3)=3 micro-batches via sub-commit
    // offsets; the unioned stream must equal the batch truth exactly
    // once — rate limiting moves batch boundaries, never content.
    "q313_delta_stream_rate" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      val root = freshScratch("q313")
      graft.lake.DeltaLog.commitFlat(s, root, ev.repartition(8))
      val name = s"q313_sink_${System.nanoTime()}"
      val q = s.readStream.format("graft.streaming.DeltaStreamProvider")
        .option("path", root).option("maxFilesPerTrigger", "3").load()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        require(q.recentProgress.count(_.numInputRows > 0) >= 3,
          "q313: a 8-file commit at maxFilesPerTrigger=3 must drain " +
            "in at least 3 micro-batches")
      } finally q.stop()
      s.table(name)
    }),
    // OPTIMISTIC CONCURRENCY: two writers append concurrently to one
    // table — a version collision reconciles (blind appends are
    // logically disjoint) instead of failing the loser, so BOTH
    // slices land and the table is the exact union either way.
    "q314_delta_concurrent_append" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      def third(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === i)
      val root = freshScratch("q314")
      graft.lake.DeltaLog.commitFlat(s, root, third(0))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val racers = Seq(1, 2).map(i =>
        Future(graft.lake.DeltaLog.commitFlat(s, root, third(i))))
      racers.foreach(Await.result(_, 180.seconds))
      require(graft.lake.DeltaLog.currentVersion(root) == 2L,
        "q314: both concurrent appends must land")
      graft.lake.DeltaLog.read(s, root)
    }),
    // VARIANT storage (the variantType protocol feature): the events
    // props JSON parses into a VARIANT column committed through the
    // Delta log (creation declares reader 3 / writer 7 with the
    // feature in both sets), and the read-back extracts a typed path
    // — the semi-structured column survives the store round-trip
    // byte-exactly or the extraction diverges from the oracle's JSON
    // walk of the same source.
    "q316_delta_variant" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("props"))
        .filter(col("event_id").isNotNull && col("props").isNotNull)
      val root = freshScratch("q316")
      graft.lake.DeltaLog.commitFlat(s, root,
        ev.select(col("event_id"), expr("parse_json(props)").as("v")))
      graft.lake.DeltaLog.read(s, root)
        .selectExpr("event_id",
          "variant_get(v, '$.k', 'bigint') AS pk")
    }),
    // TYPE WIDENING: half the slice lands with an INT32 event_id, the
    // column widens to long (metaData-only commit, zero data moved),
    // the other half lands wide — the mixed-physical read returns one
    // long column equal to the whole slice (Spark's parquet readers
    // promote int32→int64 natively; the widening is bit-exact so the
    // cross-engine hash cannot move).
    "q315_delta_type_widening" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      val root = freshScratch("q315")
      graft.lake.DeltaLog.commitFlat(s, root,
        ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .select(col("event_id").cast("int").as("event_id"),
            col("value")))
      graft.lake.DeltaLog.widenColumnType(s, root, "event_id",
        org.apache.spark.sql.types.LongType)
      graft.lake.DeltaLog.commitFlat(s, root,
        ev.filter(pmod(col("event_id"), lit(2)) === 1))
      graft.lake.DeltaLog.read(s, root)
    }),
    // NESTED STREAMING delta-to-delta: the silver items shape streams
    // through the DSv2 source (recursive Group-walk array<struct>
    // conversion) INTO a second Delta table (the sink stages the same
    // 3-level LIST shapes, exactly-once epochs); a mid-stream second
    // commit arrives incrementally; the gate reads the DESTINATION
    // back and explodes items to scalar rows.
    "q293_delta_stream_nested" -> ((s, d) => {
      val base = Tables.orders(s, d).filter(col("o_orderkey").isNotNull)
        .select(col("o_orderkey"),
          coalesce(col("o_custkey"), lit(0L)).as("ck"))
      def shaped(df: org.apache.spark.sql.DataFrame) =
        df.select(concat(lit("O-"), col("o_orderkey").cast("string"))
          .as("order_id"),
          array(
            struct(col("ck").as("product_id"), lit(1L).as("qty")),
            struct((col("ck") + 1000000L).as("product_id"),
              lit(2L).as("qty"))).as("items"))
      val bse = freshScratch("q293")
      val (root, dst) = (s"$bse/src", s"$bse/dst")
      graft.lake.DeltaLog.commitFlat(s, root,
        shaped(base.filter(pmod(col("o_orderkey"), lit(2)) === 0)))
      val q = s.readStream.format("graft.streaming.DeltaStreamProvider")
        .option("path", root).load()
        .writeStream.format("graft.streaming.DeltaStreamProvider")
        .option("path", dst)
        .option("checkpointLocation", s"$bse/ckpt")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        graft.lake.DeltaLog.commitFlat(s, root,
          shaped(base.filter(pmod(col("o_orderkey"), lit(2)) === 1)))
        q.processAllAvailable()
      } finally q.stop()
      graft.lake.DeltaLog.read(s, dst)
        .select(col("order_id"), explode(col("items")).as("item"))
        .select(col("order_id"), col("item.product_id").as("product_id"),
          col("item.qty").as("qty"))
    }),
    // STRING-RANGE data-skipping read: zero-padded order keys in four
    // SORTED slices (disjoint lexicographic ranges per file — the
    // recorded string min/max prune the range read; spec pins the
    // file count), then the inclusive range read.
    "q294_delta_string_range" -> ((s, d) => {
      val base = Tables.orders(s, d).filter(col("o_orderkey").isNotNull)
      def shaped(df: org.apache.spark.sql.DataFrame) =
        df.select(concat(lit("ord-"),
          lpad(col("o_orderkey").cast("string"), 8, "0")).as("okey"),
          col("o_custkey"), col("o_totalprice"))
      val root = freshScratch("q294")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        shaped(base).withColumn("__slice",
          when(col("okey") < "ord-00004000", 0)
            .when(col("okey") < "ord-00008000", 1)
            .when(col("okey") < "ord-00012000", 2).otherwise(3)),
        "__slice", Seq(0, 1, 2, 3))
      graft.lake.DeltaLog.read(s, root)
        .where(col("okey").between("ord-00000100", "ord-00000200"))
    }),
    // PARTITIONED MERGE × CDF: the reference's README recommends
    // event_date-partitioned silver — merge into a bucket-partitioned
    // CDF table where every matched row also MOVES partition (bucket
    // recomputed from custkey+1). The feed per (change_type, bucket)
    // proves pre-images land in the OLD partition, post-images and
    // inserts in the row's NEW one; exact long cents per q266.
    "q284_delta_merge_partitioned" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .withColumn("bucket",
          pmod(coalesce(col("o_custkey"), lit(0L)), lit(4)).cast("string"))
      def slice(i: Int) =
        base.filter(pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3)) === i)
      def shaped(df: org.apache.spark.sql.DataFrame) =
        df.select(col("o_orderkey"), col("o_totalprice"), col("bucket"))
      val root = freshScratch("q284")
      graft.lake.DeltaLog.commitPartitionedSlices(s, root,
        shaped(base).withColumn("__slice",
          pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3))),
        "__slice", Seq(0, 1), Seq("bucket"),
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
      val updates = base
        .filter(col("o_orderkey").between(100L, 2000L) &&
          pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3)) =!= 2)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("bucket",
          pmod(coalesce(col("o_custkey"), lit(0L)) + 1, lit(4))
            .cast("string"))
      graft.lake.DeltaLog.mergeKey(s, root, "o_orderkey",
        shaped(updates).unionByName(shaped(slice(2))))
      graft.lake.DeltaLog.readChangeFeed(s, root, 1L)
        .groupBy(col("_change_type").as("change_type"), col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("cents"))
    }),
    // SCHEMA EVOLUTION: slice 0 commits two columns; slice 1 arrives
    // with o_totalprice and mergeSchema=true — the commit re-emits
    // metaData with the appended nullable column, and the read returns
    // the evolved shape with NULL price for the pre-evolution files.
    "q271_delta_schema_evolution" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def half(i: Int) =
        o.filter(pmod(coalesce(col("o_orderkey"), lit(0L)), lit(2)) === i)
      val root = freshScratch("q271")
      graft.lake.DeltaLog.commitFlat(s, root,
        half(0).select(col("o_orderkey"), col("o_custkey")))
      graft.lake.DeltaLog.commitFlat(s, root,
        half(1).select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")), mergeSchema = true)
      graft.lake.DeltaLog.read(s, root)
    }),
    // RESTORE across schema evolution: slice 0 commits two columns,
    // slice 1 evolves with o_totalprice (mergeSchema), a delete
    // mutates, then RESTORE TO VERSION 0 re-emits the ORIGINAL
    // metaData in the restore commit — the read returns the
    // pre-evolution two-column snapshot exactly (history of the
    // evolution stays addressable; spec-pinned).
    "q292_delta_restore_schema" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def half(i: Int) =
        o.filter(pmod(coalesce(col("o_orderkey"), lit(0L)), lit(2)) === i)
      val root = freshScratch("q292")
      graft.lake.DeltaLog.commitFlat(s, root,
        half(0).select(col("o_orderkey"), col("o_custkey")))
      graft.lake.DeltaLog.commitFlat(s, root,
        half(1).select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")), mergeSchema = true)
      graft.lake.DeltaLog.deleteWhereLong(s, root, "o_orderkey",
        1L, 1000L)
      graft.lake.DeltaLog.restore(s, root, 0L)
      graft.lake.DeltaLog.read(s, root)
    }),
    // CHECK CONSTRAINT lifecycle: half the events commit free-form,
    // ADD CONSTRAINT validates them (one scan), the second half
    // commits THROUGH the inline enforcement — the final read is the
    // whole non-null-id slice, proving validation + enforced writes
    // corrupt nothing.
    "q272_delta_constraints" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      def half(i: Int) = ev.filter(pmod(col("event_id"), lit(2)) === i)
      val root = freshScratch("q272")
      graft.lake.DeltaLog.commitFlat(s, root, half(0))
      graft.lake.DeltaLog.addCheckConstraint(s, root, "id_present",
        "event_id IS NOT NULL")
      graft.lake.DeltaLog.commitFlat(s, root, half(1))
      graft.lake.DeltaLog.read(s, root)
    }),
    // OPTIMIZE ZORDER: four full-range slices (worst-case skipping), a
    // DV delete inside the read window, then the Z-clustered rewrite —
    // the selective read must return the filtered slice through the
    // post-optimize layout (DVs applied+cleared, dataChange=false),
    // with the pruning itself pinned by DeltaLogSpec.
    "q273_delta_zorder" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_ts_us"), col("value"))
        .filter(col("event_id").isNotNull)
      val root = freshScratch("q273")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice", pmod(col("event_id"), lit(4))),
        "__slice", Seq(0, 1, 2, 3))
      graft.lake.DeltaLog.deleteWhereLongDV(s, root, "event_id",
        1000L, 1500L)
      graft.lake.DeltaLog.optimizeZOrder(s, root, "event_id",
        "event_ts_us", 20, 8)
      graft.lake.DeltaLog.read(s, root)
        .where(col("event_id").between(0L, 2000L))
    }),
    // Per-partition OPTIMIZE ZORDER: q273's fold on an event_type-
    // PARTITIONED table (the README's recommended maintenance for
    // partitioned silver) — four full-range slices per partition, a DV
    // delete inside the window, the within-partition Z-rewrite
    // (dataChange=false, one dynamic-partitioned job), then the
    // selective window read through the post-optimize layout. The
    // in-partition skipping improvement is pinned by DeltaLogSpec.
    "q291_delta_zorder_part" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_ts_us"), col("value"),
          col("event_type"))
        .filter(col("event_id").isNotNull)
      val root = freshScratch("q291")
      graft.lake.DeltaLog.commitPartitionedSlices(s, root,
        ev.withColumn("__slice", pmod(col("event_id"), lit(2))),
        "__slice", Seq(0, 1), Seq("event_type"))
      graft.lake.DeltaLog.deleteWhereLongDV(s, root, "event_id",
        1000L, 1500L)
      graft.lake.DeltaLog.optimizeZOrder(s, root, "event_id",
        "event_ts_us", 20, 10)
      graft.lake.DeltaLog.read(s, root)
        .where(col("event_id").between(0L, 2000L))
    }),
    // GENERATED COLUMNS: day GENERATED ALWAYS AS (event_ts_us div
    // 86400000000). Batch 0 provides it (verified inline), batch 1
    // lacks it (computed at write), an UPDATE recomputes it through
    // the post-SET timestamp — the read-back must equal the
    // recomputed truth everywhere.
    "q274_delta_generated" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_ts_us"))
        .filter(col("event_id").isNotNull)
      def half(i: Int) = ev.filter(pmod(col("event_id"), lit(2)) === i)
      val root = freshScratch("q274")
      val genSql = "event_ts_us div 86400000000"
      graft.lake.DeltaLog.commitFlat(s, root,
        graft.lake.DeltaLog.withGenerationExpression(
          half(0).withColumn("day", expr(genSql)), "day", genSql))
      graft.lake.DeltaLog.commitFlat(s, root, half(1))
      graft.lake.DeltaLog.updateWhereLong(s, root, "event_id", 0L, 2000L,
        Map("event_ts_us" -> (col("event_ts_us") + lit(86400000000L))))
      graft.lake.DeltaLog.read(s, root)
    }),
    // IDENTITY COLUMN: the table is created with GENERATED ALWAYS AS
    // IDENTITY (START 1 STEP 2) over half the events, the second half
    // continues above the recorded high-water mark. Ids themselves are
    // engine-local (distributed block assignment, gaps legal — Delta's
    // documented semantics), so the gate checks the INVARIANTS: row
    // count, uniqueness, step alignment, floor — all reconstructable
    // as literal truths by the oracle.
    "q275_delta_identity" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      def half(i: Int) = ev.filter(pmod(col("event_id"), lit(2)) === i)
        .select(col("value"))
      val root = freshScratch("q275")
      graft.lake.DeltaLog.createIdentityTable(s, root, half(0), "row_id",
        start = 1L, step = 2L)
      graft.lake.DeltaLog.commitFlat(s, root, half(1))
      graft.lake.DeltaLog.read(s, root).agg(
        count(lit(1)).as("n_rows"),
        (countDistinct(col("row_id")) === count(lit(1))).as("ids_unique"),
        (sum(pmod(col("row_id") - 1, lit(2))) === 0).as("aligned"),
        (min(col("row_id")) >= 1).as("above_start"))
    }),
    // STREAMING SOURCE over the Delta log (DataSource V2 micro-batch,
    // version-granular offsets): two commits pre-exist, a third lands
    // MID-STREAM — the memory sink must accumulate exactly the three
    // slices, proving batch planning follows the log incrementally.
    "q276_delta_stream_read" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      def third(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === i)
      val root = freshScratch("q276")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice", pmod(col("event_id"), lit(3))),
        "__slice", Seq(0, 1))
      val name = s"q276_sink_${System.nanoTime()}"
      val q = s.readStream
        .format("graft.streaming.DeltaStreamProvider")
        .option("path", root).load()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        graft.lake.DeltaLog.commitFlat(s, root, third(2))
        q.processAllAvailable()
      } finally q.stop()
      s.table(name)
    }),
    // PARTITIONED STREAMING READ: events hive-partitioned by
    // event_type, streamed whole — partition values reattach as typed
    // per-file constants (nulls included), so the streamed table must
    // equal the batch truth column-for-column.
    "q277_delta_stream_partitioned" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("value"), col("event_type"))
      val root = freshScratch("q277")
      graft.lake.DeltaLog.commitPartitioned(s, root, ev, Seq("event_type"))
      val name = s"q277_sink_${System.nanoTime()}"
      val q = s.readStream
        .format("graft.streaming.DeltaStreamProvider")
        .option("path", root).load()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(name)
    }),
    // BLOOM POINT LOOKUP: orders committed in four slices with a
    // parquet bloom on o_custkey (UNSORTED — every file spans the
    // custkey range, stats prune nothing); the point read must return
    // that customer's orders through the bloom layer. Pruning itself
    // is pinned by DeltaLogSpec (owner-file-only scanned-file count).
    "q278_delta_bloom_lookup" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val root = freshScratch("q278")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        o.withColumn("__slice",
          pmod(coalesce(col("o_orderkey"), lit(0L)), lit(4))),
        "__slice", Seq(0, 1, 2, 3), writeOptions =
          graft.lake.DeltaLog.bloomOptions(Seq("o_custkey")))
      graft.lake.DeltaLog.read(s, root).where(col("o_custkey") === 371)
    }),
    // STREAMING SINK (exactly-once DSv2 write): a delta-to-delta
    // pipeline — the source table streams through a checkpointed query
    // into a SECOND Delta table whose epochs commit with txn
    // watermarks; the destination read-back must equal the source
    // slices exactly (no loss, no duplication).
    "q279_delta_stream_sink" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("event_id").isNotNull)
      val base = freshScratch("q279")
      val (src, dst) = (s"$base/src", s"$base/dst")
      graft.lake.DeltaLog.commitFlatSlices(s, src,
        ev.withColumn("__slice", pmod(col("event_id"), lit(2))),
        "__slice", Seq(0, 1))
      val q = s.readStream
        .format("graft.streaming.DeltaStreamProvider")
        .option("path", src).load()
        .writeStream.format("graft.streaming.DeltaStreamProvider")
        .option("path", dst)
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      graft.lake.DeltaLog.read(s, dst)
    }),
    // PARTITIONED streaming sink: the same delta-to-delta pipeline but
    // the destination pre-exists partitioned by a value bucket — the
    // sink adopts the partitioning, routes rows to hive partition
    // directories executor-side, and the partitioned read returns the
    // identical slice (the reference's event_date-partitioned silver
    // written by a stream).
    "q286_delta_stream_sink_part" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("value"),
          pmod(coalesce(floor(col("value")).cast("long"), lit(0L)),
            lit(4)).cast("string").as("bucket"))
        .filter(col("event_id").isNotNull)
      val base = freshScratch("q286")
      val (src, dst) = (s"$base/src", s"$base/dst")
      graft.lake.DeltaLog.commitFlatSlices(s, src,
        ev.withColumn("__slice", pmod(col("event_id"), lit(2))),
        "__slice", Seq(0, 1))
      // the destination pre-exists partitioned by bucket: a one-row
      // seed OUTSIDE the streamed id range declares the table (fully
      // nullable — the stream cannot prove NOT NULL), filtered back
      // out of the gate's result below
      val seedSchema = org.apache.spark.sql.types.StructType(
        ev.schema.fields.map(_.copy(nullable = true)))
      val seed = s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(-7L, 0.0, "0")), seedSchema)
      graft.lake.DeltaLog.commitPartitioned(s, dst, seed, Seq("bucket"))
      val q = s.readStream
        .format("graft.streaming.DeltaStreamProvider")
        .option("path", src).load()
        .writeStream.format("graft.streaming.DeltaStreamProvider")
        .option("path", dst)
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      graft.lake.DeltaLog.read(s, dst)
        .filter(col("event_id") =!= -7L)
    }),
    // STREAMING CHANGE FEED: the q266 history (3 CDF appends + DELETE
    // + UPDATE) consumed as a STREAM (readChangeFeed=true) — cdc files
    // carry their own _change_type, appends synthesize insert; rolled
    // up per change type with exact long cents.
    "q280_delta_stream_cdf" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val root = freshScratch("q280")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        o.withColumn("__slice",
          pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3))),
        "__slice", Seq(0, 1, 2),
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
      graft.lake.DeltaLog.deleteWhereLong(s, root, "o_orderkey",
        3000L, 6000L)
      graft.lake.DeltaLog.updateWhereLong(s, root, "o_orderkey",
        100L, 2000L, Map("o_totalprice" -> (col("o_totalprice") * 2)))
      val name = s"q280_sink_${System.nanoTime()}"
      val q = s.readStream
        .format("graft.streaming.DeltaStreamProvider")
        .option("path", root).option("readChangeFeed", "true").load()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(name)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("cents"))
    }),
    // CONVERT TO DELTA: a plain hive-partitioned Spark parquet write
    // (no log) is adopted IN PLACE — commit 0 from footers, typed
    // partitionValues from the key=value paths, zero data moved — then
    // read back through the log with a partition filter.
    "q281_delta_convert" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("value"), col("event_type"))
      val root = freshScratch("q281")
      ev.write.partitionBy("event_type").parquet(root)
      graft.lake.DeltaLog.convertToDelta(s, root,
        new org.apache.spark.sql.types.StructType()
          .add("event_type", org.apache.spark.sql.types.StringType))
      graft.lake.DeltaLog.read(s, root)
        .filter(col("event_type").isin("purchase", "view", "click"))
    }),
    // Column-mapped Delta READ (mode=name): the data file stores
    // PHYSICAL column names (col-k17/col-v42), the hand-authored log's
    // schemaString carries the delta.columnMapping metadata, and the
    // bridge must surface LOGICAL names with the right rows — the
    // external-table ingest shape for any mapped lakehouse table.
    "q261_delta_mapped_read" -> ((s, d) => {
      import scala.jdk.CollectionConverters._
      val ev = Tables.events(s, d)
        .filter(col("event_id").isNotNull && col("event_id") <= 3000)
        .select(col("event_id").as("col-k17"), col("value").as("col-v42"))
      val root = freshScratch("q261")
      val rootP = java.nio.file.Paths.get(root)
      java.nio.file.Files.createDirectories(rootP)
      val tmp = java.nio.file.Files.createTempDirectory(rootP, "stage")
      ev.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val l = java.nio.file.Files.list(tmp)
        try l.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally l.close()
      }
      java.nio.file.Files.move(part, rootP.resolve("part-a.parquet"))
      val schemaJson =
        """{"type":"struct","fields":[
          {"name":"event_id","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-k17"}},
          {"name":"value","type":"double","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-v42"}}]}"""
          .replaceAll("\n\\s*", "")
      java.nio.file.Files.createDirectories(rootP.resolve("_delta_log"))
      java.nio.file.Files.write(
        rootP.resolve("_delta_log").resolve(f"${0L}%020d.json"),
        (Seq(
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"graft-q261","format":{"provider":"parquet","options":{}},"schemaString":"${schemaJson.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2"}}}""",
          """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""")
          .mkString("", "\n", "\n")).getBytes("UTF-8"))
      graft.lake.DeltaLog.read(s, root)
    }),
    // ID-mode column mapping READ: the parquet file stores arbitrary
    // column names but carries FIELD IDS in its footer; the log
    // declares mode id — resolution must go through the ids (the
    // declared physicalNames deliberately differ from the file's
    // names), surfacing logical event_id/value.
    "q287_delta_mapped_id_read" -> ((s, d) => {
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types.{LongType, DoubleType,
        StructField, StructType, MetadataBuilder}
      val ev = Tables.events(s, d)
        .filter(col("event_id").isNotNull && col("event_id") <= 3000)
        .select(col("event_id"), col("value"))
      val mb1 = new MetadataBuilder()
        .putLong("parquet.field.id", 1L).build()
      val mb2 = new MetadataBuilder()
        .putLong("parquet.field.id", 2L).build()
      val withIds = s.createDataFrame(ev.rdd,
        StructType(Seq(StructField("file-col-a", LongType, true, mb1),
          StructField("file-col-b", DoubleType, true, mb2))))
      val root = freshScratch("q287")
      val rootP = java.nio.file.Paths.get(root)
      java.nio.file.Files.createDirectories(rootP)
      val tmp = java.nio.file.Files.createTempDirectory(rootP, "stage")
      withIds.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val l = java.nio.file.Files.list(tmp)
        try l.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally l.close()
      }
      java.nio.file.Files.move(part, rootP.resolve("part-a.parquet"))
      val schemaJson =
        """{"type":"struct","fields":[
          {"name":"event_id","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-k17"}},
          {"name":"value","type":"double","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-v42"}}]}"""
          .replaceAll("\n\\s*", "")
      java.nio.file.Files.createDirectories(rootP.resolve("_delta_log"))
      java.nio.file.Files.write(
        rootP.resolve("_delta_log").resolve(f"${0L}%020d.json"),
        (Seq(
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"graft-q287","format":{"provider":"parquet","options":{}},"schemaString":"${schemaJson.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"}}}""",
          """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""")
          .mkString("", "\n", "\n")).getBytes("UTF-8"))
      graft.lake.DeltaLog.read(s, root)
    }),
    // Name-mapped WRITE round-trip: a hand-authored name-mode table
    // (physical names col-k17/col-v42, the q261 shape) takes the full
    // DML suite through LOGICAL names — append, copy-on-write DELETE,
    // UPDATE, MERGE — and reads back; every new parquet stores physical
    // names (spec-pinned), the gate checks the resulting rows.
    "q285_delta_mapped_write" -> ((s, d) => {
      import scala.jdk.CollectionConverters._
      val base = Tables.events(s, d)
        .filter(col("event_id").isNotNull && col("event_id") <= 3000)
        .groupBy(col("event_id")).agg(max(col("value")).as("value"))
      val root = freshScratch("q285")
      val rootP = java.nio.file.Paths.get(root)
      java.nio.file.Files.createDirectories(rootP)
      val tmp = java.nio.file.Files.createTempDirectory(rootP, "stage")
      base.filter(pmod(col("event_id"), lit(2)) === 0)
        .select(col("event_id").as("col-k17"), col("value").as("col-v42"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val l = java.nio.file.Files.list(tmp)
        try l.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally l.close()
      }
      java.nio.file.Files.move(part, rootP.resolve("part-a.parquet"))
      val schemaJson =
        """{"type":"struct","fields":[
          {"name":"event_id","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-k17"}},
          {"name":"value","type":"double","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-v42"}}]}"""
          .replaceAll("\n\\s*", "")
      java.nio.file.Files.createDirectories(rootP.resolve("_delta_log"))
      java.nio.file.Files.write(
        rootP.resolve("_delta_log").resolve(f"${0L}%020d.json"),
        (Seq(
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"graft-q285","format":{"provider":"parquet","options":{}},"schemaString":"${schemaJson.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2"}}}""",
          """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""")
          .mkString("", "\n", "\n")).getBytes("UTF-8"))
      // append the odd half through LOGICAL names
      graft.lake.DeltaLog.commitFlat(s, root,
        base.filter(pmod(col("event_id"), lit(2)) === 1)
          .select(col("event_id"), col("value")))
      graft.lake.DeltaLog.deleteWhereLong(s, root, "event_id", 1L, 500L)
      graft.lake.DeltaLog.updateWhereLong(s, root, "event_id",
        1000L, 1500L, Map("value" -> (col("value") * 2)))
      val src = base.filter(col("event_id").between(2000L, 2500L))
        .select(col("event_id"), (col("value") * 0.5).as("value"))
        .unionByName(base.filter(col("event_id").between(600L, 700L))
          .select((col("event_id") + 100000L).as("event_id"), col("value")))
      graft.lake.DeltaLog.mergeKey(s, root, "event_id", src)
      graft.lake.DeltaLog.read(s, root)
    }),
    // NESTED column mapping, NAME mode: the reference's silver shape —
    // items array<struct<product_id, qty>> — with physicalName
    // metadata at EVERY level. The even half pre-exists under physical
    // nested names; the odd half appends through LOGICAL names; a
    // string-key MERGE replaces 100..200's items. The gate explodes
    // items back to scalar rows (array compare stays cross-engine-safe).
    "q289_delta_mapped_nested" -> ((s, d) => {
      import scala.jdk.CollectionConverters._
      val base = Tables.orders(s, d).filter(col("o_orderkey").isNotNull)
        .select(col("o_orderkey"),
          coalesce(col("o_custkey"), lit(0L)).as("ck"))
      def shaped(df: org.apache.spark.sql.DataFrame, merged: Boolean) =
        if (!merged)
          df.select(concat(lit("O-"), col("o_orderkey").cast("string"))
            .as("order_id"),
            array(
              struct(col("ck").as("product_id"), lit(1L).as("qty")),
              struct((col("ck") + 1000000L).as("product_id"),
                lit(2L).as("qty"))).as("items"))
        else
          df.select(concat(lit("O-"), col("o_orderkey").cast("string"))
            .as("order_id"),
            array(struct((col("ck") + 7L).as("product_id"),
              lit(9L).as("qty"))).as("items"))
      val root = freshScratch("q289")
      val rootP = java.nio.file.Paths.get(root)
      java.nio.file.Files.createDirectories(rootP)
      val tmp = java.nio.file.Files.createTempDirectory(rootP, "stage")
      shaped(base.filter(pmod(col("o_orderkey"), lit(2)) === 0),
        merged = false)
        .select(col("order_id").as("col-oid"),
          expr("transform(items, x -> named_struct('col-pid', " +
            "x.product_id, 'col-qty', x.qty))").as("col-items"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val l = java.nio.file.Files.list(tmp)
        try l.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally l.close()
      }
      java.nio.file.Files.move(part, rootP.resolve("part-a.parquet"))
      java.nio.file.Files.createDirectories(rootP.resolve("_delta_log"))
      java.nio.file.Files.write(
        rootP.resolve("_delta_log").resolve(f"${0L}%020d.json"),
        (Seq(
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"graft-q289","format":{"provider":"parquet","options":{}},"schemaString":"${nestedMappedSchemaJson.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"4"}}}""",
          """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""")
          .mkString("", "\n", "\n")).getBytes("UTF-8"))
      graft.lake.DeltaLog.commitFlat(s, root,
        shaped(base.filter(pmod(col("o_orderkey"), lit(2)) === 1),
          merged = false))
      graft.lake.DeltaLog.mergeKey(s, root, "order_id",
        shaped(base.filter(col("o_orderkey").between(100L, 200L)),
          merged = true))
      graft.lake.DeltaLog.read(s, root)
        .select(col("order_id"), explode(col("items")).as("item"))
        .select(col("order_id"), col("item.product_id").as("product_id"),
          col("item.qty").as("qty"))
    }),
    // NESTED column mapping, ID mode: same silver shape, but the
    // pre-existing file stores JUNK names with parquet FIELD IDS at
    // every level (names not authoritative) — resolution must go
    // through ids nested-deep; appends stamp nested ids; the string-key
    // merge round-trips the array column through the batched rewrite.
    "q290_delta_mapped_nested_id" -> ((s, d) => {
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types.{ArrayType, LongType, StringType,
        StructField, StructType, MetadataBuilder}
      val base = Tables.orders(s, d).filter(col("o_orderkey").isNotNull)
        .select(col("o_orderkey"),
          coalesce(col("o_custkey"), lit(0L)).as("ck"))
      def shaped(df: org.apache.spark.sql.DataFrame, merged: Boolean) =
        if (!merged)
          df.select(concat(lit("O-"), col("o_orderkey").cast("string"))
            .as("order_id"),
            array(
              struct(col("ck").as("product_id"), lit(1L).as("qty")),
              struct((col("ck") + 1000000L).as("product_id"),
                lit(2L).as("qty"))).as("items"))
        else
          df.select(concat(lit("O-"), col("o_orderkey").cast("string"))
            .as("order_id"),
            array(struct((col("ck") + 7L).as("product_id"),
              lit(9L).as("qty"))).as("items"))
      def meta(id: Long) = new MetadataBuilder()
        .putLong("parquet.field.id", id).build()
      val junkSchema = StructType(Seq(
        StructField("file-a", StringType, true, meta(1)),
        StructField("file-b", ArrayType(StructType(Seq(
          StructField("file-c", LongType, true, meta(3)),
          StructField("file-d", LongType, true, meta(4)))), true), true,
          meta(2))))
      val root = freshScratch("q290")
      val rootP = java.nio.file.Paths.get(root)
      java.nio.file.Files.createDirectories(rootP)
      val tmp = java.nio.file.Files.createTempDirectory(rootP, "stage")
      s.createDataFrame(
        shaped(base.filter(pmod(col("o_orderkey"), lit(2)) === 0),
          merged = false).rdd, junkSchema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val l = java.nio.file.Files.list(tmp)
        try l.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally l.close()
      }
      java.nio.file.Files.move(part, rootP.resolve("part-a.parquet"))
      java.nio.file.Files.createDirectories(rootP.resolve("_delta_log"))
      java.nio.file.Files.write(
        rootP.resolve("_delta_log").resolve(f"${0L}%020d.json"),
        (Seq(
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"graft-q290","format":{"provider":"parquet","options":{}},"schemaString":"${nestedMappedSchemaJson.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"4"}}}""",
          """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""")
          .mkString("", "\n", "\n")).getBytes("UTF-8"))
      graft.lake.DeltaLog.commitFlat(s, root,
        shaped(base.filter(pmod(col("o_orderkey"), lit(2)) === 1),
          merged = false))
      graft.lake.DeltaLog.mergeKey(s, root, "order_id",
        shaped(base.filter(col("o_orderkey").between(100L, 200L)),
          merged = true))
      graft.lake.DeltaLog.read(s, root)
        .select(col("order_id"), explode(col("items")).as("item"))
        .select(col("order_id"), col("item.product_id").as("product_id"),
          col("item.qty").as("qty"))
    }),
    // V2-checkpoint Delta READ: the log is ONLY a
    // <v>.checkpoint.<uuid>.json top file (protocol 3/7 + v2Checkpoint
    // feature, metaData, checkpointMetadata, inline adds) plus a JSON
    // tail commit — the modern compacted-log shape; the bridge must
    // reconstruct the whole table from it.
    "q262_delta_v2cp_read" -> ((s, d) => {
      import scala.jdk.CollectionConverters._
      val ev = Tables.events(s, d)
        .filter(col("event_id").isNotNull)
        .select(col("event_id"), col("value"))
      val root = freshScratch("q262")
      val rootP = java.nio.file.Paths.get(root)
      java.nio.file.Files.createDirectories(rootP)
      def stageOne(df: DataFrame, name: String): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory(rootP, "stage")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val l = java.nio.file.Files.list(tmp)
        val part =
          try l.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          finally l.close()
        java.nio.file.Files.move(part, rootP.resolve(name))
      }
      stageOne(ev.filter(col("event_id") <= 5000), "part-a.parquet")
      stageOne(ev.filter(col("event_id") > 5000), "part-b.parquet")
      val schemaJson =
        """{"type":"struct","fields":[
          {"name":"event_id","type":"long","nullable":true,"metadata":{}},
          {"name":"value","type":"double","nullable":true,"metadata":{}}]}"""
          .replaceAll("\n\\s*", "")
      val log = rootP.resolve("_delta_log")
      java.nio.file.Files.createDirectories(log)
      // version 0 state lives ONLY in the v2 checkpoint (no commit 0)
      java.nio.file.Files.write(
        log.resolve(f"${0L}%020d.checkpoint.3f2a1b00-1234-5678-9abc-def012345678.json"),
        (Seq(
          """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
          s"""{"metaData":{"id":"graft-q262","format":{"provider":"parquet","options":{}},"schemaString":"${schemaJson.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{}}}""",
          """{"checkpointMetadata":{"version":0}}""",
          """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""")
          .mkString("", "\n", "\n")).getBytes("UTF-8"))
      // tail commit 1 adds part-b
      java.nio.file.Files.write(log.resolve(f"${1L}%020d.json"),
        ("""{"add":{"path":"part-b.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}""" + "\n")
          .getBytes("UTF-8"))
      graft.lake.DeltaLog.read(s, root)
    }),
    // DELETE via DELETION VECTORS (the modern Delta DML path, table
    // feature deletionVectors): same slices and predicate as q253, but
    // deleted positions land in roaring-bitmap sidecars and the data
    // files stay byte-identical — two stacked deletes exercise the DV
    // merge; the read back must equal the complement.
    "q260_delta_dv_delete" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_ts_us"), col("value"))
      val root = freshScratch("q260")
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        ev.withColumn("__slice",
          pmod(coalesce(col("event_id"), lit(0L)), lit(3))),
        "__slice", Seq(0, 1, 2))
      graft.lake.DeltaLog.deleteWhereLongDV(s, root, "event_id", 3000L, 6000L)
      graft.lake.DeltaLog.deleteWhereLongDV(s, root, "event_id", 8000L, 8500L)
      graft.lake.DeltaLog.read(s, root)
    }),
    // Condensation DAG over the q248 SCC graph: one edge per pair of
    // distinct components with an original edge between them — always
    // acyclic, the dependency readout SCC exists to produce.
    "q254_scc_condensation" -> ((s, d) =>
      graft.graphs.Scc.condensation(sccLineitemEdges(s, d))),
    // Incremental JOIN-view maintenance (the delta rule): three
    // MISALIGNED batch pairs of orders/lineitem folded through
    // JoinView.advance must equal the one-shot join — every cross term
    // (dA x B_old, A_old x dB, dA x dB) fires in some fold step.
    // q249's DURABLE production shape: the same misaligned three-batch
    // fold, but state lives as three Delta tables with txn watermarks
    // (restart-safe, exactly-once across foreachBatch replays — batch 1
    // is deliberately applied TWICE below); must still equal the
    // one-shot join.
    "q259_durable_join_view" -> ((s, d) => {
      val a = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val b = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"), col("l_partkey"),
          col("l_quantity"))
      def aB(i: Int) =
        a.filter(pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3)) === i)
      def bB(i: Int) =
        b.filter(pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3)) === i)
      val ks = Seq("o_orderkey")
      val dir = freshScratch("q259")
      graft.pipeline.JoinView.refreshDurable(s, dir, aB(0), bB(1), ks, 0L)
      graft.pipeline.JoinView.refreshDurable(s, dir, aB(1), bB(2), ks, 1L)
      // watermark replay: must be a no-op, not a double apply
      graft.pipeline.JoinView.refreshDurable(s, dir, aB(1), bB(2), ks, 1L)
      graft.pipeline.JoinView.refreshDurable(s, dir, aB(2), bB(0), ks, 2L)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("l_partkey"), col("l_quantity"))
    }),
    "q249_incremental_join_view" -> ((s, d) => {
      val a = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val b = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"), col("l_partkey"),
          col("l_quantity"))
      def aB(i: Int) =
        a.filter(pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3)) === i)
      def bB(i: Int) =
        b.filter(pmod(coalesce(col("o_orderkey"), lit(0L)), lit(3)) === i)
      val ks = Seq("o_orderkey")
      val st0 = graft.pipeline.JoinView.init(aB(0), bB(1), ks)
      val st1 = graft.pipeline.JoinView.advance(st0, aB(1), bB(2), ks)
      graft.pipeline.JoinView.advance(st1, aB(2), bB(0), ks).view
    }),
    // Partitioned-Delta OPTIMIZE: three partitioned appends (multiple
    // files per event_type), one compaction commit (dataChange=false),
    // then the log read — the oracle is the whole table, so compaction
    // changing ANY row would fail the gate.
    "q250_delta_compacted_read" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("value"), col("event_type"))
      val root = freshScratch("q250")
      graft.lake.DeltaLog.commitPartitionedSlices(s, root,
        ev.withColumn("__slice",
          pmod(coalesce(col("event_id"), lit(0L)), lit(3))),
        "__slice", Seq(0, 1, 2), Seq("event_type"))
      graft.lake.DeltaLog.compactPartitioned(s, root)
      graft.lake.DeltaLog.read(s, root)
    }),
    "q248_scc" -> ((s, d) => graft.graphs.Scc.run(sccLineitemEdges(s, d))),
    "q245_ks_test" -> ((s, d) =>
      graft.ml.Eval.ksTest(
        Tables.events(s, d)
          .filter(col("event_type").isin("purchase", "view") &&
            col("value").isNotNull)
          .select(col("event_type"),
            (col("value").cast("decimal(18,2)") * 100).cast("long")
              .as("cents")),
        col("event_type"), col("cents"))),
    // Ingestion gap audit: per event type, every hole in the observed
    // event-id sequence as a (start, end, missing) backfill work list.
    "q244_sequence_gaps" -> ((s, d) =>
      Analytics.sequenceGaps(
        Tables.events(s, d).select(col("event_type"), col("event_id")),
        Seq("event_type"), "event_id")),
    // Weekly seasonal-naive error (MASE) per event type over daily
    // revenue — "does last week predict this week better than
    // yesterday does", exact cross-multiplied ppm.
    "q243_seasonal_naive_mase" -> ((s, d) =>
      Temporal.seasonalNaiveError(dailyCents(s, d), Seq("series"), "day",
        "y_fp", season = 7)),
    // CUSUM change-point monitor on day-over-day revenue deltas per
    // event type: the max(0, S+y) recursion computed exactly as prefix
    // sums minus running extrema — two stacked windows, no driver loop.
    "q242_cusum_changepoints" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("series")).orderBy(col("day").asc)
      val flows = dailyCents(s, d).withColumn("delta_fp",
        col("y_fp") - coalesce(lag(col("y_fp"), 1).over(w), col("y_fp")))
      Temporal.cusumChangePoints(
        flows.select(col("series"), col("day"), col("delta_fp")),
        Seq("series"), "day", "delta_fp",
        targetFp = 0L, slackFp = 50000L, thresholdFp = 1000000L)
    }),
    // Co-located bucketed join: both sides written bucketed+sorted on
    // the join key, then joined with ZERO exchanges (BucketingSpec pins
    // the plan) — this query gates that the layout changed the plan and
    // nothing else.
    "q241_bucketed_join" -> ((s, d) => {
      val root = freshScratch("q241")
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
      // The two bucketed writes land DIFFERENT tables from DIFFERENT
      // inputs — overlap them on the DML side-job executor (the JoinView
      // concurrent-commit pattern, guide §2.6) so the second write's
      // shuffle back-fills the first one's write tail; the join below
      // needs both, so it waits.
      val ordersFut = scala.concurrent.Future {
        graft.lake.Bucketing.writeBucketed(orders, "q241_orders",
          s"$root/o", "o_orderkey", 8, Seq("o_orderkey"))
      }(graft.lake.DeltaLog.sideJobEc)
      graft.lake.Bucketing.writeBucketed(li, "q241_lineitem",
        s"$root/l", "o_orderkey", 8, Seq("o_orderkey"))
      scala.concurrent.Await.result(ordersFut,
        scala.concurrent.duration.Duration.Inf)
      graft.lake.Bucketing.bucketedJoin(s, "q241_orders", "q241_lineitem",
          "o_orderkey")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_items"), sum(col("cents"))
          .as("revenue_cents"))
    }),
    // Tokenizer coverage: OOV occurrence share per source against the
    // top-20 word vocabulary.
    "q238_oov_rate" -> ((s, d) =>
      TextStats.oovRate(Tables.documentsSpread(s, d), "source", "text",
        vocabSize = 20)),
    // l-diversity on the q215 quasi-identifiers with mktsegment as the
    // sensitive attribute at l=3 — the leak k-anonymity alone misses.
    "q239_l_diversity" -> ((s, d) =>
      graft.quality.Checks.lDiversity(
        Tables.customer(s, d).select(col("c_nationkey"),
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) " +
            "div 100000").as("bal_bucket"),
          col("c_mktsegment")),
        Seq("c_nationkey", "bal_bucket"), "c_mktsegment", l = 3)),
    // Watermark-delay sweep: drop rate per stream at four candidate
    // delays from one running-max pass — the table that picks the delay.
    "q240_lateness_sweep" -> ((s, d) =>
      Temporal.latenessSweep(
        Tables.events(s, d)
          .filter(col("event_ts_us").isNotNull)
          .select(col("event_type"), col("event_id"), col("event_ts_us")),
        "event_type", Seq("event_id"), "event_ts_us",
        Seq(0L, 60000000L, 600000000L, 3600000000L))),
    // Skip-gram (center, context) pairs with 1/distance decay weights —
    // word-embedding training prep; top-100 by exact fixed-point weight.
    "q236_skipgram_pairs" -> ((s, d) =>
      TextStats.skipgramPairs(Tables.documentsSpread(s, d),
        "doc_id", "text", window = 3, topK = 100)),
    // A-Priori frequent triples over order baskets (support >= 2):
    // closure-pruned candidate counting; the oracle is the brute-force
    // triple join, so pruning-preserves-results is part of the gate.
    "q237_frequent_triples" -> ((s, d) =>
      Analytics.frequentTriples(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minSupport = 2)),
    // CMS join-size estimate for the events×events self-join on user_id
    // — "will this join blow up" answered from two 4x256 summaries; the
    // estimate is exact integer arithmetic, hash-gated.
    "q234_cms_join_size" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id"))
      graft.ml.Sketches.cmsJoinSize(ev, "user_id", ev, "user_id",
        d = 4, w = 256)
    }),
    // Incremental rollup maintenance: three event batches folded through
    // mergeAggState (DECIMAL(18,2) state — the operator under test) must
    // equal the one-shot groupBy. Successor of the retired
    // q235_incremental_agg: three rounds of gate history proved the FOLD
    // exact (q258, same fold, integer output, driver-green) while the
    // DECIMAL rendering hash-diverged in the driver's pandas path — so
    // this gate re-presents the decimal state as BIGINT cents at the
    // final projection (decimal × 100 is exact for 2dp money) and the
    // decimal rendering itself stays pinned by MedallionSpec.
    "q282_agg_state_decimal" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"), col("value"))
      // pmod+coalesce makes the three slices a TOTAL partition of ev —
      // bare `% 3 === i` drops NULL ids (NULL comparison) and NEGATIVE
      // ids (negative Spark % remainder matches no i in 0..2), which
      // the one-shot oracle rollup keeps: same groups, different sums.
      def batch(i: Int) =
        ev.filter(pmod(coalesce(col("event_id"), lit(0L)), lit(3)) === i)
      val s0 = Medallion.mergeAggState(None, batch(0),
        Seq("event_type"), "value")
      val s1 = Medallion.mergeAggState(Some(s0), batch(1),
        Seq("event_type"), "value")
      Medallion.mergeAggState(Some(s1), batch(2), Seq("event_type"), "value")
        .select(col("event_type"), col("n_rows"),
          (col("sum_val") * lit(100)).cast("long").as("cents"))
    }),
    // q235's decisive control: the SAME three-batch fold over the SAME
    // total partition, but through mergeAggStateCents — raw long cents,
    // no decimal presentation, zero engine-sensitive surface. Every
    // output column is an integer, so the cross-engine hash can only
    // diverge if the FOLD itself diverges (it provably cannot: longs sum
    // exactly in any order).
    "q258_agg_state_fold" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"), col("value"))
      def batch(i: Int) =
        ev.filter(pmod(coalesce(col("event_id"), lit(0L)), lit(3)) === i)
      val s0 = Medallion.mergeAggStateCents(None, batch(0),
        Seq("event_type"), "value")
      val s1 = Medallion.mergeAggStateCents(Some(s0), batch(1),
        Seq("event_type"), "value")
      Medallion.mergeAggStateCents(Some(s1), batch(2),
        Seq("event_type"), "value")
    }),
    // URL canonicalization dedup: three deterministic raw variants per
    // doc (case-shifted host, utm noise, reordered params, trailing
    // slash) collapse to one canonical form — the crawl-dedup prestage.
    "q232_url_canonical" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val raw = docs.select(col("doc_id"), lit(0).as("variant"),
          concat(lit("https://Example.COM/docs/"),
            (col("doc_id") % 50).cast("string"),
            lit("/?utm_source=mail&id="), (col("doc_id") % 7).cast("string"),
            lit("&b=2")).as("url"))
        .unionByName(docs.select(col("doc_id"), lit(1).as("variant"),
          concat(lit("http://example.com/docs/"),
            (col("doc_id") % 50).cast("string"),
            lit("?b=2&id="), (col("doc_id") % 7).cast("string"))
            .as("url")))
        .unionByName(docs.select(col("doc_id"), lit(2).as("variant"),
          concat(lit("https://EXAMPLE.com/docs/"),
            (col("doc_id") % 50).cast("string"),
            lit("?id="), (col("doc_id") % 7).cast("string"),
            lit("&b=2&fbclid=xyz")).as("url")))
      raw.select(col("doc_id"), col("variant"),
        Relations.canonicalizeUrl(col("url")).as("canon_url"))
    }),
    // Kaplan-Meier churn curve: per-user activity spans, users active in
    // the last 7 observed days are CENSORED; floor-log product terms and
    // floor-exp survival ppm.
    "q233_kaplan_meier" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val spans = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_ts_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(min(col("event_ts_us")).as("first_us"),
          max(col("event_ts_us")).as("last_us"))
        .withColumn("__cut",
          max(col("last_us")).over(Window.partitionBy(lit(1))) -
            lit(7L * 86400000000L))
        .select(
          expr("(last_us - first_us) div 86400000000").as("duration_days"),
          (col("last_us") < col("__cut")).as("churned"))
      Temporal.kaplanMeier(spans, "duration_days", col("churned"))
    }),
    // Mutual information lang↔source — chi2's (q171) information-
    // theoretic sibling, observed cells only, q84 floor-log fixed point.
    "q229_mutual_information" -> ((s, d) =>
      graft.ml.Eval.mutualInformation(Tables.documents(s, d),
        col("lang"), col("source"))),
    // Welch two-sample t between purchase and view event values (cents):
    // exact DECIMAL sufficient statistics, pinned IEEE finale.
    "q230_welch_ttest" -> ((s, d) =>
      graft.ml.Eval.welchTTest(
        Tables.events(s, d)
          .filter(col("event_type").isin("purchase", "view") &&
            col("value").isNotNull)
          .select(col("event_type"),
            (col("value").cast("decimal(18,2)") * 100).cast("long")
              .as("cents")),
        col("event_type"), col("cents"))),
    // Bipartite projection orders×items → weighted item-item edges
    // (n_shared >= 2) — the co-occurrence builder behind the whole graph
    // family, now a first-class operator with a degree-profile
    // pre-flight.
    "q231_bipartite_project" -> ((s, d) =>
      graft.graphs.Projection.bipartiteProject(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minShared = 2)),
    // Homoglyph-squashed exact dedup: planted Cyrillic-o evasions (the
    // classic dedup-dodging trick) are caught by translating the
    // build-time confusable map before hashing — pairs the raw hash
    // would never match.
    "q227_homoglyph_dedup" -> ((s, d) => {
      val base = Tables.documentsSpread(s, d).select(col("doc_id"), col("text"))
      val evaded = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          translate(col("text"), "o", "\u043e").as("text"))
      val keyed = base.unionByName(evaded)
        .withColumn("__k", md5(TextStats.squashHomoglyphs(col("text"))))
      keyed.as("a").join(keyed.as("b"),
          col("a.__k") === col("b.__k") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    }),
    // Golden-record survivorship over three dirtied copies of each
    // customer: per-field majority vote with lexicographic tiebreak —
    // the MDM step after linkage + components.
    "q228_golden_record" -> ((s, d) => {
      val c = Tables.customer(s, d)
      def variant(tag: Int, name: org.apache.spark.sql.Column,
                  seg: org.apache.spark.sql.Column) =
        c.select(col("c_custkey").as("component"), name.as("name"),
          seg.as("segment"))
      val records = variant(0, col("c_name"), col("c_mktsegment"))
        .unionByName(variant(1,
          when(col("c_custkey") % 3 === 0, upper(col("c_name")))
            .otherwise(col("c_name")), col("c_mktsegment")))
        .unionByName(variant(2, col("c_name"),
          when(col("c_custkey") % 5 === 0, lit(null).cast("string"))
            .otherwise(col("c_mktsegment"))))
      graft.text.Linkage.goldenRecord(records, "component",
        Seq("name", "segment"))
    }),
    // HyperBall 2-hop neighborhood sizes over the q173 co-occurrence
    // graph: every node's |ball(n, 2)| estimate from one sketch pass —
    // n BFS runs collapsed into register max-merges, each estimate an
    // exact integer both engines reproduce.
    "q226_hyperball" -> ((s, d) => {
      graft.graphs.HyperBall.neighborhoodSizes(itemCoEdges(s, d),
        rounds = 2)
    }),
    // Functional-dependency audit: does o_custkey determine
    // o_orderstatus? (No — the summary quantifies how badly.)
    "q224_functional_dependency" -> ((s, d) =>
      graft.quality.Checks.functionalDependencyReport(
        Tables.orders(s, d), Seq("o_custkey"), "o_orderstatus")),
    // Metadata-only COUNT(*): two append commits, then the footer-sum
    // count over the active files — gated against the real COUNT(*)
    // over the same rows.
    "q225_metadata_count" -> ((s, d) => {
      val root = freshScratch("q225")
      // pmod+coalesce: the two commits must be a TOTAL partition of
      // events, because the oracle is COUNT(*) over the WHOLE table —
      // bare `% 2 === i` loses NULL and negative-odd ids (q235's hole).
      graft.lake.DeltaLog.commitFlatSlices(s, root,
        Tables.events(s, d).withColumn("__slice",
          pmod(coalesce(col("event_id"), lit(0L)), lit(2))),
        "__slice", Seq(0, 1))
      graft.lake.DeltaLog.countFast(s, root).select(col("n_rows"))
    }),
    // Wald SPRT over the event stream (H0: purchase rate 0.18 vs H1:
    // 0.22, alpha .05 / beta .2): the full integer LLR trajectory with
    // per-observation decisions — early-stopping A/B monitoring.
    "q221_sprt_monitor" -> ((s, d) =>
      graft.ml.Eval.sprtTest(
        Tables.events(s, d).select(col("event_id"), col("event_type")),
        "event_id", col("event_type") === "purchase",
        p0 = 0.18, p1 = 0.22)),
    // Benford first-digit audit of order totals (cents) — forensic
    // screen with build-time expected-share literals.
    "q222_benford_audit" -> ((s, d) =>
      graft.quality.Checks.benfordAudit(
        Tables.orders(s, d).select(
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents")),
        "cents")),
    // Exact AUC via doubled midranks: does document length rank the
    // doc_id%3 label better than chance? One value-grain window, one
    // scalar rollup, zero floats.
    "q223_auc_exact" -> ((s, d) =>
      graft.ml.Eval.aucExact(
        Tables.documents(s, d).select(col("n_chars"),
          (col("doc_id") % 3 === 0).as("label")),
        "n_chars", col("label"))),
    // Dedup-aware 20% test split: simhash near-dup components (the q60
    // graph) hash-split by COMPONENT id, so near-copies never straddle
    // the eval boundary — closing the leakage hole q158 audits.
    "q217_leakage_safe_split" -> ((s, d) =>
      Sampling.leakageSafeSplit(Tables.documentsSpread(s, d), "doc_id",
        simhashPairs(s, d).select(col("doc_a").as("src"),
          col("doc_b").as("dst")), testPct = 20)),
    // RFM at the billion-customer shape: exact quintile CUTS from the
    // q62 percentile machine (no global sort), strict-> scoring — the
    // scale sibling of the rank-windowed q150 flavor.
    "q216_rfm_segments" -> ((s, d) =>
      Analytics.rfmSegmentsByCuts(
        Tables.orders(s, d).select(col("o_custkey"),
          unix_date(col("o_orderdate").cast("date")).as("order_day"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents")),
        "o_custkey", "order_day", "cents")),
  )

  /** q210's field model — shared between the Spark plan and the generated
    * oracle so both embed identical fixed-point weights.
    */
  private val linkageFields = Seq(
    graft.text.Linkage.FieldSpec("name", "name_a", "name_b", 0.95, 0.001),
    graft.text.Linkage.FieldSpec("seg", "seg_a", "seg_b", 0.9, 0.2),
    graft.text.Linkage.FieldSpec("bkt", "bkt_a", "bkt_b", 0.95, 0.1),
    graft.text.Linkage.FieldSpec("bal", "bal_a", "bal_b", 0.99, 0.0001))

  private val lshGrid: Seq[(Int, Int)] =
    Seq((4, 16), (8, 8), (16, 4), (32, 2), (64, 1))

  /** q167/q169 share the q138 hashed-linear scores joined with the
    * lang=='en' evaluation label.
    */
  private def q138Scored(s: SparkSession, d: String): DataFrame =
    TextStats.hashedLinearScore(Tables.documentsSpread(s, d), "doc_id", "text")
      .join(Tables.documents(s, d)
        .select(col("doc_id"), (col("lang") === "en").as("__en")), Seq("doc_id"))

  /** q156/q159/q160 share the daily DECIMAL-exact cent totals per event
    * type — the canonical long-form metric panel.
    */
  private def dailyCents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("value").isNotNull && col("event_ts_us").isNotNull)
      .groupBy(col("event_type").as("series"),
        expr("event_ts_us div 86400000000").as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
        .cast("long").as("y_fp"))

  /** Fixed per-query scratch dir for the lake queries (q128/q129/q133/
    * q135/q136), wiped before each use: Bench/Verify invoke a builder
    * several times per session, and fresh createTempDirectory trees
    * would accumulate unbounded /tmp disk across runs — one bounded
    * tree per query instead.
    */
  /** Delta schemaString of the q289/q290 nested-mapped fixture: the
    * reference's silver items shape with columnMapping metadata
    * (physicalName + id) at EVERY level — logical order_id/items over
    * physical col-oid / col-items array<struct<col-pid, col-qty>>.
    */
  private val nestedMappedSchemaJson: String =
    """{"type":"struct","fields":[
      {"name":"order_id","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-oid"}},
      {"name":"items","type":{"type":"array","elementType":{"type":"struct","fields":[
        {"name":"product_id","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":3,"delta.columnMapping.physicalName":"col-pid"}},
        {"name":"qty","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":4,"delta.columnMapping.physicalName":"col-qty"}}]},"containsNull":true},"nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-items"}}]}"""
      .replaceAll("\n\\s*", "")

  /** q296/q297 shared body: stream the silver `items array<struct>`
    * shape from an unmapped source table into a PRE-CREATED
    * column-mapped destination (`mode` = name | id; the q289/q290
    * schemaString — physicalName + id metadata at every level), with a
    * mid-stream second source commit arriving incrementally, then read
    * the destination back logically and explode to scalar rows.
    */
  private def streamNestedIntoMapped(s: SparkSession, d: String,
      tag: String, mode: String): DataFrame = {
    val base = Tables.orders(s, d).filter(col("o_orderkey").isNotNull)
      .select(col("o_orderkey"),
        coalesce(col("o_custkey"), lit(0L)).as("ck"))
    def shaped(df: org.apache.spark.sql.DataFrame) =
      df.select(concat(lit("O-"), col("o_orderkey").cast("string"))
        .as("order_id"),
        array(
          struct(col("ck").as("product_id"), lit(1L).as("qty")),
          struct((col("ck") + 1000000L).as("product_id"),
            lit(2L).as("qty"))).as("items"))
    val bse = freshScratch(tag)
    val (src, dst) = (s"$bse/src", s"$bse/dst")
    graft.lake.DeltaLog.commitFlat(s, src,
      shaped(base.filter(pmod(col("o_orderkey"), lit(2)) === 0)))
    // pre-create the EMPTY mapped destination: protocol 2/5 + metaData
    // only — the streaming epochs are its first data commits
    val dstP = java.nio.file.Paths.get(dst)
    java.nio.file.Files.createDirectories(dstP.resolve("_delta_log"))
    java.nio.file.Files.write(
      dstP.resolve("_delta_log").resolve(f"${0L}%020d.json"),
      (Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"graft-$tag","format":{"provider":"parquet","options":{}},"schemaString":"${nestedMappedSchemaJson.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"$mode","delta.columnMapping.maxColumnId":"4"}}}""")
        .mkString("", "\n", "\n")).getBytes("UTF-8"))
    val q = s.readStream.format("graft.streaming.DeltaStreamProvider")
      .option("path", src).load()
      .writeStream.format("graft.streaming.DeltaStreamProvider")
      .option("path", dst)
      .option("checkpointLocation", s"$bse/ckpt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      graft.lake.DeltaLog.commitFlat(s, src,
        shaped(base.filter(pmod(col("o_orderkey"), lit(2)) === 1)))
      q.processAllAvailable()
    } finally q.stop()
    graft.lake.DeltaLog.read(s, dst)
      .select(col("order_id"), explode(col("items")).as("item"))
      .select(col("order_id"), col("item.product_id").as("product_id"),
        col("item.qty").as("qty"))
  }

  private def freshScratch(name: String): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_scratch_$name")
    graft.lake.Upsert.deleteRecursively(p)
    s"$p/tbl"
  }

  /** q99/q104 share the SCD2 history of each user's event-type state
    * (the dimension table the as-of lookup joins against).
    */
  private def scd2EventHistory(s: SparkSession, d: String): DataFrame =
    graft.lake.Scd2.history(
      Tables.events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), col("event_ts_us"),
          col("event_id")),
      Seq("user_id"), Seq("event_type"), "event_ts_us", "event_id")

  /** q54/q75/q76 share this purchases/clicks pair (distinct per-type event
    * projections with null users dropped — see q54's comment).
    */
  private def asofFixture(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_ts_us").as("purchase_ts_us"),
        col("event_id").as("purchase_id")).distinct()
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_ts_us").as("click_ts_us"),
        col("event_id").as("click_id")).distinct()
    (purchases, clicks)
  }

  /** The read side of q47, factored so PlanSpec can assert the pruned
    * scan shape on the exact gated plan. Newest-day cutoff is a scalar
    * pre-pass (the salesMinuteIncremental pattern); the main scan then
    * carries a partition-column equality predicate.
    */
  def partitionedDayScan(s: SparkSession): DataFrame = {
    val t = s.table("graft_q47_events")
    val maxDate = t.agg(max(col("event_date"))).head().getDate(0)
    t.filter(col("event_date") === lit(maxDate))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           Medallion.moneySum(col("value")).as("total_value"))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  /** Shared by q70 (count-based) and q77 (prefix-filtered) — one truth,
    * two independent Spark formulations.
    */
  private val jaccardPairsOracle: String =
    """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                     WHERE len(string_split(text, ' ')) >= 2),
       sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS s
              FROM docs, UNNEST(range(1, len(w))) t(i)),
       sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
                 FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT doc_a, doc_b, n_shared,
         n_shared / (sa.n + sb.n - n_shared) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
       WHERE n_shared / (sa.n + sb.n - n_shared) >= 0.5"""

  def oracleSql: Map[String, String] = Map(
    "q01_bronze_project" ->
      """SELECT event_id, CAST(user_id AS VARCHAR) AS raw_key, props AS raw_value,
         event_type AS topic, epoch_us(ts) AS event_ts_us, CAST(ts AS DATE) AS event_date
         FROM events""",
    "q02_dedup_latest" ->
      """SELECT user_id, event_type, event_id, value FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id, event_type
             ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1""",
    // TRY_CAST: Spark's permissive from_json nulls malformed/non-int
    // payloads; a plain CAST oracle would error where Spark yields null.
    "q03_parse_props" ->
      """SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events""",
    "q04_user_spend" ->
      """SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS paid_amount,
         MAX(epoch_us(ts)) AS last_purchase_us, COUNT(*) AS n_purchases
         FROM events WHERE event_type = 'purchase' GROUP BY user_id""",
    "q05_enrich" ->
      """SELECT o.o_orderkey AS order_id, o.o_custkey AS user_id,
         o.o_totalprice AS total_amount,
         CAST(COALESCE(p.paid_amount, 0.0) AS DOUBLE) AS paid_amount,
         COALESCE(p.paid_amount, 0.0) >= o.o_totalprice AS fully_paid
         FROM orders o LEFT JOIN (
           SELECT l_orderkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS paid_amount
           FROM lineitem GROUP BY l_orderkey) p ON p.l_orderkey = o.o_orderkey""",
    "q06_enrich_view" ->
      """SELECT o.o_orderkey AS order_id, o.o_orderstatus AS order_status,
         o.o_totalprice AS total_amount,
         CAST(COALESCE(p.paid_amount, 0.0) AS DOUBLE) AS paid_amount,
         COALESCE(p.paid_amount, 0.0) >= o.o_totalprice AS fully_paid,
         CAST(o.o_orderdate AS DATE) AS event_date
         FROM orders o LEFT JOIN (
           SELECT l_orderkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS paid_amount
           FROM lineitem GROUP BY l_orderkey) p ON p.l_orderkey = o.o_orderkey""",
    "q07_fct_sales_minute" ->
      """SELECT epoch_us(date_trunc('minute', ts)) AS minute_bucket_us,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS gmv,
         COUNT(*) AS paid_orders
         FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1""",
    "q08_sales_minute_incr" ->
      """SELECT epoch_us(date_trunc('minute', ts)) AS minute_bucket_us,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS gmv,
         COUNT(*) AS paid_orders
         FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
           AND epoch_us(ts) >= (SELECT MAX(epoch_us(ts)) - 7200000000 FROM events)
         GROUP BY 1""",
    "q09_sales_last_60min" ->
      """WITH fct AS (
           SELECT epoch_us(date_trunc('minute', ts)) AS minute_bucket_us,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS gmv,
             COUNT(*) AS paid_orders
           FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1)
         SELECT * FROM fct
         WHERE minute_bucket_us >= (SELECT MAX(minute_bucket_us) - 3600000000 FROM fct)""",
    // The oracle mirrors the merge semantics structurally — latest-wins
    // window over BOTH sides (merge collapses duplicate-keyed targets
    // too) and an anti-join — rather than relying on event_id uniqueness.
    "q10_upsert_idempotent" ->
      """WITH target AS (
           SELECT event_id, event_ts_us, value FROM (
             SELECT event_id, epoch_us(ts) AS event_ts_us, value,
               row_number() OVER (PARTITION BY event_id
                 ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
             FROM events WHERE event_id % 3 = 0)
           WHERE rn = 1),
         src AS (
           SELECT event_id, event_ts_us, value FROM (
             SELECT event_id, epoch_us(ts) AS event_ts_us, value,
               row_number() OVER (PARTITION BY event_id
                 ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
             FROM events WHERE event_id % 2 = 0)
           WHERE rn = 1)
         SELECT * FROM target WHERE event_id NOT IN (SELECT event_id FROM src)
         UNION ALL SELECT * FROM src""",
    "q11_freshness" ->
      """SELECT event_type, MAX(epoch_us(ts)) AS max_ts_us, COUNT(*) AS n
         FROM events GROUP BY event_type""",
    "q12_top_minutes" ->
      """SELECT epoch_us(date_trunc('minute', ts)) AS minute_bucket_us,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS gmv,
         COUNT(*) AS paid_orders
         FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1
         ORDER BY gmv DESC, minute_bucket_us LIMIT 10""",
    "q13_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
         COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q14_revenue_by_region" ->
      """SELECT r.r_name AS region,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
         FROM region r
         JOIN nation n ON n.n_regionkey = r.r_regionkey
         JOIN customer c ON c.c_nationkey = n.n_nationkey
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         GROUP BY r.r_name""",
    "q15_top_customers" ->
      """SELECT c.c_custkey AS custkey, c.c_name AS name,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM customer c
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         GROUP BY c.c_custkey, c.c_name
         ORDER BY revenue DESC, custkey LIMIT 10""",
    "q16_running_spend" ->
      """SELECT event_id, user_id, epoch_us(ts) AS event_ts_us,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
           ORDER BY epoch_us(ts), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_spend
         FROM events WHERE event_type = 'purchase'""",
    "q17_part_rank" ->
      """SELECT p_partkey, p_brand, p_retailprice, price_rank FROM (
           SELECT p_partkey, p_brand, p_retailprice,
             dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS price_rank,
             row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
           FROM part) WHERE rn <= 3""",
    "q18_status_diff" ->
      """(SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
         EXCEPT SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
         UNION ALL
         (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O')""",
    // Pivot columns GENERATED from the same eventTypes Seq the Spark side
    // uses — one list, no hardcoded copy to drift out of sync.
    "q19_event_pivot" ->
      s"""SELECT user_id,
         ${eventTypes.map(t =>
           s"CAST(SUM(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS $t")
           .mkString(",\n         ")}
         FROM events GROUP BY user_id""",
    "q20_lineitem_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'extendedprice' AS metric, l_extendedprice AS val FROM lineitem""",
    "q21_minute_spine" ->
      """WITH fct AS (
           SELECT epoch_us(date_trunc('minute', ts)) AS minute_bucket_us,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS gmv,
             COUNT(*) AS paid_orders
           FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1),
         spine AS (
           SELECT unnest(generate_series(
             (SELECT MIN(minute_bucket_us) FROM fct),
             (SELECT MAX(minute_bucket_us) FROM fct),
             60000000)) AS minute_bucket_us)
         SELECT s.minute_bucket_us, COALESCE(f.gmv, 0.0) AS gmv,
           COALESCE(f.paid_orders, 0) AS paid_orders
         FROM spine s LEFT JOIN fct f ON f.minute_bucket_us = s.minute_bucket_us""",
    "q22_hash_keys" ->
      """SELECT event_id,
         sha256(concat_ws(':', event_type, CAST(user_id AS VARCHAR), CAST(event_id AS VARCHAR))) AS event_key,
         md5(concat_ws('-', CAST(user_id AS VARCHAR), CAST(event_id AS VARCHAR))) AS surrogate
         FROM events""",
    "q23_acctbal_histogram" ->
      """SELECT LEAST(GREATEST(CAST(FLOOR(c_acctbal / 500.0) AS BIGINT) + 1, 1), 20) AS bucket,
         COUNT(*) AS n FROM customer GROUP BY 1""",
    // q24: the oracle is the exact all-pairs shingle-Jaccard (feasible at
    // sf0.01); the Spark side must find every pair >= threshold via
    // MinHash/LSH candidates + exact verify (recall checked by this gate).
    "q24_neardup_pairs" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
                FROM docs, UNNEST(range(1, len(w) - 1)) t(i)),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT doc_a, doc_b, i / (sa.n + sb.n - i) AS jaccard
         FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
         WHERE i / (sa.n + sb.n - i) >= 0.8""",
    // q25: cosine folded left-to-right in DOUBLE in both engines → scores
    // are bit-identical, so rank and cosine both hash-match.
    "q25_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings WHERE vec_id >= 10),
         s AS (SELECT query_id, neighbor_id,
                 list_reduce(list_transform(list_zip(qe, ce),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
                 / (sqrt(list_reduce(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))
                  * sqrt(list_reduce(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))) AS cosine
               FROM q, c)
         SELECT query_id, neighbor_id, rank, cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
           FROM s) WHERE rank <= 5""",
    "q26_text_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(n_chars) AS BIGINT) / NULLIF(COUNT(*), 0) AS avg_chars,
         MAX(n_chars) AS max_chars
         FROM documents GROUP BY lang, source""",
    "q27_doc_dedup" ->
      """SELECT md5(lower(trim(text))) AS content_hash, MIN(doc_id) AS keeper_id,
         COUNT(*) AS n_copies FROM documents GROUP BY 1""",
    "q28_item_grain" ->
      """SELECT l_partkey AS product_id,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
         COUNT(*) AS n_items
         FROM lineitem GROUP BY 1""",
    // q29/q31: token hash = 60-bit md5 prefix — identical in both engines.
    "q29_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM tok),
         bits AS (SELECT doc_id, b, SUM(2 * ((h >> b) & 1) - 1) AS s
                  FROM h, UNNEST(range(0, 60)) t(b) GROUP BY 1, 2)
         SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         FROM bits GROUP BY doc_id""",
    "q30_doc_quality" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                    WHERE text LIKE '%spark%'),
         m AS (SELECT doc_id, len(w) AS n_tokens,
                 len(list_distinct(w)) AS n_distinct_tokens,
                 len(list_filter(w, t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS stop_cnt
               FROM d)
         SELECT doc_id, n_tokens, n_distinct_tokens,
           n_distinct_tokens / n_tokens AS lexical_diversity,
           stop_cnt / n_tokens AS stopword_ratio,
           CASE WHEN stop_cnt / n_tokens >= 0.01 THEN 'en' ELSE 'und' END AS lang_pred,
           (n_tokens >= 20 AND n_distinct_tokens / n_tokens >= 0.2) AS keep
         FROM m""",
    "q31_fingerprint" ->
      """SELECT doc_id,
         CAST(SUM((CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) % 1000000007)
                  * i) % 1000000007 AS BIGINT) AS fp
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              UNNEST(range(1, len(w) + 1)) t(i)
         GROUP BY doc_id""",
    "q32_union_relations" ->
      """SELECT o_orderkey AS order_id, o_totalprice AS amount,
         o_orderstatus AS status, CAST(NULL AS INTEGER) AS line_no,
         'orders' AS _source_relation FROM orders
         UNION ALL
         SELECT l_orderkey, l_extendedprice, CAST(NULL AS VARCHAR),
         l_linenumber, 'lineitem' FROM lineitem""",
    "q33_url_parse" ->
      """SELECT doc_id,
         'https://' || source || '.example.com/docs/' || doc_id || '?lang=' || lang AS url,
         source || '.example.com' AS host,
         '/docs/' || doc_id AS path,
         lang AS lang_param
         FROM documents""",
    "q34_haversine" ->
      """SELECT n_nationkey,
         round(2 * 6371.0 * asin(sqrt(
           power(sin(radians((n_regionkey * 30 - 60) - (n_nationkey * 7 - 84)) / 2), 2) +
           cos(radians(n_nationkey * 7 - 84)) * cos(radians(n_regionkey * 30 - 60)) *
           power(sin(radians((n_regionkey * 40 - 100) - (n_nationkey * 13 - 150)) / 2), 2))), 3) AS km
         FROM nation""",
    "q35_pagination" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_orderkey OFFSET 100 LIMIT 20""",
    "q36_minute_gaps" ->
      """WITH fct AS (
           SELECT epoch_us(date_trunc('minute', ts)) AS minute_bucket_us
           FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1),
         seq AS (SELECT minute_bucket_us,
                   lead(minute_bucket_us) OVER (ORDER BY minute_bucket_us) AS next_bucket
                 FROM fct)
         SELECT minute_bucket_us, next_bucket,
           CAST((next_bucket - minute_bucket_us) / 60000000 AS BIGINT) AS gap_minutes
         FROM seq
         WHERE next_bucket IS NOT NULL AND next_bucket != minute_bucket_us + 60000000""",
    "q37_quality_report" ->
      """SELECT COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
         COUNT(*) - COUNT(DISTINCT event_id) AS dup_event_ids,
         CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_values,
         COUNT(DISTINCT event_type) AS n_event_types
         FROM events""",
    "q38_enrich_via_view" ->
      """SELECT o.o_orderkey AS order_id, o.o_orderstatus AS order_status,
         o.o_totalprice AS total_amount,
         CAST(COALESCE(p.paid_amount, 0.0) AS DOUBLE) AS paid_amount,
         CAST(o.o_orderdate AS DATE) AS event_date
         FROM orders o LEFT JOIN (
           SELECT l_orderkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS paid_amount
           FROM lineitem GROUP BY l_orderkey) p ON p.l_orderkey = o.o_orderkey
         WHERE COALESCE(p.paid_amount, 0.0) >= o.o_totalprice""",
    "q39_revenue_rollup" ->
      """SELECT r.r_name AS region, n.n_name AS nation,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
         FROM region r
         JOIN nation n ON n.n_regionkey = r.r_regionkey
         JOIN customer c ON c.c_nationkey = n.n_nationkey
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         GROUP BY ROLLUP (r.r_name, n.n_name)""",
    "q40_event_reach" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY event_type""",
    "q41_column_values" ->
      """SELECT source, COUNT(*) AS n FROM documents
         GROUP BY source ORDER BY n DESC, source LIMIT 20""",
    // q42: the oracle rebuilds the SAME sign-LSH buckets (md5-derived
    // hyperplanes, left-to-right double folds) and the same bit-stable
    // cosines — the bucketed near-dup join is gated end-to-end.
    "q42_embedding_dup_pairs" ->
      """WITH b AS (
           SELECT vec_id, embedding, t.t,
             (SELECT SUM(CASE WHEN (
                 list_reduce(list_transform(embedding, (x, d) ->
                   CAST(x AS DOUBLE) * ((CAST(('0x' || substr(md5('hp-' || t.t || '-' || p.p || '-' || (d-1)), 1, 15)) AS BIGINT) % 2000003) / 1000001.5 - 1.0)),
                   (a, v) -> a + v)) > 0 THEN (1 << p.p) ELSE 0 END)
              FROM UNNEST(range(0, 4)) p(p)) AS bucket
           FROM embeddings, UNNEST(range(0, 3)) t(t)
         ),
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b,
             a.embedding AS ea, b2.embedding AS eb
           FROM b a JOIN b b2 ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         )
         SELECT id_a, id_b,
           list_reduce(list_transform(list_zip(ea, eb), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
           / (sqrt(list_reduce(list_transform(ea, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))
            * sqrt(list_reduce(list_transform(eb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))) AS cosine
         FROM cand
         WHERE list_reduce(list_transform(list_zip(ea, eb), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
           / (sqrt(list_reduce(list_transform(ea, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))
            * sqrt(list_reduce(list_transform(eb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))) >= 0.3""",
    // q43-q45: the oracle reconstructs the silver output STRAIGHT from the
    // base columns (no JSON in DuckDB) — equality proves the Spark-side
    // build→dedup→parse→flatten round trip loses nothing. `dead` marks rows
    // whose only surviving payload is malformed (nulled by permissive
    // parse); orderkey%13 rows are superseded by the newer UPDATED dup.
    "q43_silver_orders_parse" ->
      """WITH li AS (SELECT l_orderkey, CAST(COUNT(*) AS INTEGER) AS n
                     FROM lineitem GROUP BY 1),
         b AS (SELECT o.*, li.n, (o_orderkey % 13 = 0) AS upd,
                 (o_orderkey % 97 = 0 AND o_orderkey % 13 != 0) AS dead
               FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey)
         SELECT 'orders.created' AS topic,
           CAST(o_orderkey % 8 AS INTEGER) AS kafka_partition,
           o_orderkey AS kafka_offset,
           epoch_us(o_orderdate) + CASE WHEN upd THEN 3600000000 ELSE 0 END AS kafka_ts_us,
           CASE WHEN dead THEN NULL ELSE 'order.created' END AS event_type,
           CASE WHEN dead THEN NULL ELSE CAST(o_orderkey AS VARCHAR) END AS order_id,
           CASE WHEN dead THEN NULL ELSE 'u' || CAST(o_custkey AS VARCHAR) END AS user_id,
           CASE WHEN dead THEN NULL ELSE n END AS n_items,
           CASE WHEN dead THEN NULL ELSE 'USD' END AS currency,
           CASE WHEN dead THEN NULL ELSE o_totalprice END AS total_amount,
           CASE WHEN dead THEN NULL WHEN upd THEN 'UPDATED' ELSE o_orderstatus END AS status,
           CASE WHEN dead THEN NULL ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') END AS event_time,
           CASE WHEN dead THEN NULL ELSE md5('oe-' || CAST(o_orderkey AS VARCHAR)) END AS event_id,
           CASE WHEN dead THEN NULL ELSE '2026-01-01 00:00:00' END AS ingest_ts,
           CASE WHEN dead THEN NULL ELSE epoch_us(o_orderdate) END AS event_ts_us,
           CASE WHEN dead THEN NULL ELSE CAST(o_orderdate AS DATE) END AS event_date
         FROM b""",
    // q44: array order is (product_id, qty, price) lexicographic — ties are
    // bit-identical structs, so pos assignment among ties cannot change the
    // row multiset the driver hashes.
    "q44_silver_items_exploded" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS order_id,
         CAST(row_number() OVER (PARTITION BY l_orderkey
           ORDER BY l_partkey, l_quantity, l_extendedprice) - 1 AS INTEGER) AS pos,
         CAST(l_partkey AS INTEGER) AS product_id,
         CAST(l_quantity AS INTEGER) AS qty,
         l_extendedprice AS price
         FROM lineitem
         WHERE l_orderkey % 97 != 0 OR l_orderkey % 13 = 0""",
    "q45_silver_payments_parse" ->
      """WITH b AS (SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           (o_orderkey % 13 = 0) AS upd,
           (o_orderkey % 97 = 0 AND o_orderkey % 13 != 0) AS dead,
           sha256('payments.captured:' || CAST(o_orderkey % 4 AS VARCHAR)
             || ':' || CAST(o_orderkey AS VARCHAR)) AS coord_id
         FROM orders)
         SELECT CAST(o_orderkey % 4 AS INTEGER) AS kafka_partition,
           o_orderkey AS kafka_offset,
           epoch_us(o_orderdate) + CASE WHEN upd THEN 3600000000 ELSE 0 END AS kafka_ts_us,
           CASE WHEN dead THEN NULL ELSE CAST(o_orderkey AS VARCHAR) END AS order_id,
           CASE WHEN dead THEN NULL WHEN upd THEN (cents + 500) / 100.0
                ELSE cents / 100.0 END AS amount,
           CASE WHEN dead THEN NULL ELSE 'USD' END AS currency,
           CASE WHEN dead THEN NULL WHEN upd THEN 'payment.refunded'
                ELSE 'payment.captured' END AS status,
           CAST(NULL AS VARCHAR) AS method,
           CAST(NULL AS VARCHAR) AS event_time,
           CAST(NULL AS VARCHAR) AS ingest_ts,
           coord_id AS event_id,
           coord_id AS payment_id,
           epoch_us(o_orderdate) + CASE WHEN upd THEN 3600000000 ELSE 0 END AS event_ts_us,
           CAST(o_orderdate AS DATE) AS event_date
         FROM b""",
    "q46_ilike_filter" ->
      """SELECT doc_id, lang, source FROM documents WHERE text ILIKE '%SPARK%'""",
    "q47_partitioned_day_scan" ->
      """SELECT event_type, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events
         WHERE CAST(ts AS DATE) = (SELECT MAX(CAST(ts AS DATE)) FROM events)
         GROUP BY event_type""",
    "q48_token_counts" ->
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INTEGER) AS subword_tokens
         FROM documents""",
    "q49_lang_id_ngram" ->
      """WITH t AS (SELECT doc_id,
             list_transform(range(1, len(text) - 1), i -> substr(text, i, 3)) AS tg
           FROM documents WHERE len(text) >= 3),
         m AS (SELECT doc_id, len(tg) AS total,
             len(list_filter(tg, x -> list_contains(
               ['the','he ',' th','and','nd ',' an','ing','ng ',' in','ion',
                'on ',' of','of ',' to','to ','ed ','er ',' co','ent',' re'], x))) AS hits
           FROM t)
         SELECT doc_id, hits / total AS en_score,
           CASE WHEN hits / total >= 0.05 THEN 'en' ELSE 'und' END AS lang_pred
         FROM m""",
    // q50: oracle recomputes the q29 simhash then does the exact ALL-PAIRS
    // hamming join — the banded Spark side must reach recall 1 on it
    // (guaranteed for hamming <= 3 with 4 bands), and does.
    "q50_simhash_neardup" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM tok),
         bits AS (SELECT doc_id, b, SUM(2 * ((h >> b) & 1) - 1) AS s
                  FROM h, UNNEST(range(0, 60)) t(b) GROUP BY 1, 2),
         sh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
           FROM bits GROUP BY doc_id)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
    // q51: the oracle rebuilds the SAME md5-derived IVF centroids and the
    // left-to-right double dots, assigns corpus vectors to their argmax
    // cell (tiebreak cell asc), probes each query's top-4 cells, and ranks
    // candidates by the bit-stable cosine — the full IVF path hash-gated.
    "q51_ann_ivf" ->
      """WITH scored AS (
           SELECT vec_id, embedding, c.c AS cell,
             list_reduce(list_transform(embedding, (x, i) ->
               CAST(x AS DOUBLE) * ((CAST(('0x' || substr(md5('ivf-' || c.c || '-' || (i-1)), 1, 15)) AS BIGINT) % 2000003) / 1000001.5 - 1.0)),
               (a, v) -> a + v) AS s
           FROM embeddings, UNNEST(range(0, 16)) c(c)),
         corpus AS (
           SELECT vec_id AS neighbor_id, embedding AS ce, cell FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
             FROM scored WHERE vec_id >= 10) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS query_id, embedding AS qe, cell FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
             FROM scored WHERE vec_id < 10) WHERE rn <= 4),
         sc AS (
           SELECT query_id, neighbor_id,
             list_reduce(list_transform(list_zip(qe, ce), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
             / (sqrt(list_reduce(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))
              * sqrt(list_reduce(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))) AS cosine
           FROM probes q JOIN corpus co ON q.cell = co.cell)
         SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
           FROM sc)
         WHERE rank <= 5""",
    // q52: q42's hyperplane-bucket scheme applied to the ANN query/corpus
    // split — candidates share at least one of 3 tables' 6-plane buckets.
    "q52_ann_lsh" ->
      """WITH b AS (
           SELECT vec_id, embedding, t.t,
             (SELECT SUM(CASE WHEN (
                 list_reduce(list_transform(embedding, (x, d) ->
                   CAST(x AS DOUBLE) * ((CAST(('0x' || substr(md5('hp-' || t.t || '-' || p.p || '-' || (d-1)), 1, 15)) AS BIGINT) % 2000003) / 1000001.5 - 1.0)),
                   (a, v) -> a + v)) > 0 THEN (1 << p.p) ELSE 0 END)
              FROM UNNEST(range(0, 6)) p(p)) AS bucket
           FROM embeddings, UNNEST(range(0, 3)) t(t)),
         cand AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.embedding AS qe, c.embedding AS ce
           FROM b q JOIN b c ON q.t = c.t AND q.bucket = c.bucket
           WHERE q.vec_id < 10 AND c.vec_id >= 10),
         sc AS (
           SELECT query_id, neighbor_id,
             list_reduce(list_transform(list_zip(qe, ce), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
             / (sqrt(list_reduce(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))
              * sqrt(list_reduce(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))) AS cosine
           FROM cand)
         SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
           FROM sc)
         WHERE rank <= 5""",
    // q53: frame boundaries are pure integer arithmetic (f*L/4 floor
    // division), so DuckDB reproduces the byte slices with substr.
    "q53_frame_sample" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 4
                      AND octet_length(CAST(text AS BLOB)) = len(text))
         SELECT doc_id AS media_id, CAST(f.f AS INTEGER) AS frame_idx,
           substr(text, CAST((f.f * L) // 4 AS INTEGER) + 1,
             CAST(((f.f + 1) * L) // 4 AS INTEGER) - CAST((f.f * L) // 4 AS INTEGER)) AS frame_text
         FROM d, UNNEST(range(0, 4)) f(f)""",
    // q54: the oracle is the textbook inequality-join as-of formulation
    // (greatest click at or before each purchase, id-tiebroken) — feasible
    // at sf0.01; the Spark side must reproduce it from the single-shuffle
    // union+window plan.
    "q54_asof_join" ->
      """WITH p AS (SELECT DISTINCT user_id, epoch_us(ts) AS purchase_ts_us,
               event_id AS purchase_id
             FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         c AS (SELECT DISTINCT user_id, epoch_us(ts) AS click_ts_us,
               event_id AS click_id
             FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
         j AS (SELECT p.user_id, p.purchase_ts_us, p.purchase_id,
                 c.click_id, c.click_ts_us,
                 row_number() OVER (
                   PARTITION BY p.user_id, p.purchase_ts_us, p.purchase_id
                   ORDER BY c.click_ts_us DESC, c.click_id DESC) AS rn
               FROM p LEFT JOIN c ON c.user_id = p.user_id
                 AND c.click_ts_us <= p.purchase_ts_us)
         SELECT user_id, purchase_ts_us, purchase_id, click_id, click_ts_us,
           purchase_ts_us - click_ts_us AS us_since_click
         FROM j WHERE rn = 1""",
    "q55_range_join_bands" ->
      """SELECT b.band_id, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
         FROM orders o JOIN (VALUES
           (1, CAST(0 AS DOUBLE), CAST(50000 AS DOUBLE)),
           (2, CAST(25000 AS DOUBLE), CAST(100000 AS DOUBLE)),
           (3, CAST(75000 AS DOUBLE), CAST(200000 AS DOUBLE)),
           (4, CAST(150000 AS DOUBLE), CAST(600000 AS DOUBLE))) b(band_id, lo, hi)
           ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
         GROUP BY b.band_id""",
    "q56_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS event_ts_us FROM events),
         l AS (SELECT *, lag(event_ts_us) OVER (
                 PARTITION BY user_id ORDER BY event_ts_us, event_id) AS prev_us
               FROM e)
         SELECT user_id, event_id, event_ts_us,
           CAST(SUM(CASE WHEN prev_us IS NULL
                          OR event_ts_us - prev_us > 1800000000
                         THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY event_ts_us, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         FROM l""",
    "q57_hash_split" ->
      """SELECT doc_id, b AS split_bucket,
         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'validation'
              ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5('split-' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
               FROM documents)""",
    "q58_stratified_sample" ->
      """SELECT lang, source, doc_id, CAST(sample_rank AS INTEGER) AS sample_rank
         FROM (SELECT lang, source, doc_id,
                 row_number() OVER (PARTITION BY lang, source
                   ORDER BY CAST(('0x' || substr(md5('strat-' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                            doc_id) AS sample_rank
               FROM documents)
         WHERE sample_rank <= 5""",
    "q59_sequence_pack" ->
      """WITH t AS (SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
             FROM documents),
         o AS (SELECT *, CAST(SUM(n_tokens) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS pack_offset
               FROM t)
         SELECT source, doc_id, n_tokens, pack_offset,
           pack_offset // 2048 AS seq_idx, pack_offset % 2048 AS seq_offset
         FROM o""",
    // q60: recomputes the q50 simhash pair graph, then walks it with a
    // recursive CTE — MIN(label) over reachability ≡ min-label-propagation
    // fixpoint.
    "q60_dup_components" -> (simhashComponentsCte + """
         SELECT node AS doc_id, MIN(lab) AS component_id
         FROM reach GROUP BY node"""),
    // q217: the q60 component fixpoint + singleton fallback + the q61
    // salted-hash bucket over COMPONENT id.
    "q217_leakage_safe_split" -> (simhashComponentsCte + """,
         comp AS (SELECT node, MIN(lab) AS cid FROM reach GROUP BY node),
         lab AS (SELECT d.doc_id, COALESCE(c.cid, d.doc_id) AS component_id
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
         SELECT doc_id, component_id,
           CASE WHEN CAST(('0x' || substr(md5('split-' ||
               CAST(component_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 20
             THEN 'test' ELSE 'train' END AS split
         FROM lab"""),
    // q218: the quadratic ground truth — every (customer, supplier) pair
    // with rounded haversine <= 300 over the same md5 coordinates. The
    // Spark side must reproduce it from the grid-bucketed equi-join.
    "q218_geo_radius_join" ->
      """WITH c AS (SELECT c_custkey,
             CAST(('0x' || substr(md5('lat-' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
               % 120000001 / 1000000.0 - 60.0 AS lat,
             CAST(('0x' || substr(md5('lon-' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
               % 360000001 / 1000000.0 - 180.0 AS lon
           FROM customer),
         s AS (SELECT s_suppkey,
             CAST(('0x' || substr(md5('lat-' || CAST(s_suppkey AS VARCHAR)), 1, 15)) AS BIGINT)
               % 120000001 / 1000000.0 - 60.0 AS lat,
             CAST(('0x' || substr(md5('lon-' || CAST(s_suppkey AS VARCHAR)), 1, 15)) AS BIGINT)
               % 360000001 / 1000000.0 - 180.0 AS lon
           FROM supplier),
         p AS (SELECT c_custkey, s_suppkey,
             round(2 * 6371.0 * asin(sqrt(
               power(sin(radians(s.lat - c.lat) / 2), 2) +
               cos(radians(c.lat)) * cos(radians(s.lat)) *
               power(sin(radians(s.lon - c.lon) / 2), 2))), 3) AS km
           FROM c, s)
         SELECT c_custkey, s_suppkey, km FROM p WHERE km <= 300.0""",
    // q219: the same lead-window path build, global (count desc, path)
    // top-20.
    "q219_top_paths" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             event_type
           FROM events
           WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
         p AS (SELECT event_type AS s0,
             lead(event_type, 1) OVER w AS s1,
             lead(event_type, 2) OVER w AS s2
           FROM e WINDOW w AS (PARTITION BY user_id
             ORDER BY ts_us, event_id)),
         cnt AS (SELECT s0 || ' > ' || s1 || ' > ' || s2 AS path,
             COUNT(*) AS n_paths
           FROM p WHERE s1 IS NOT NULL AND s2 IS NOT NULL GROUP BY 1),
         r AS (SELECT *, row_number() OVER (
                 ORDER BY n_paths DESC, path) AS rank FROM cnt)
         SELECT path, n_paths, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 20""",
    // q220: first-seen day per purchaser, per-day new counts, running
    // sum over the observed-day spine.
    "q220_running_distinct" ->
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id
           FROM events
           WHERE event_type = 'purchase' AND user_id IS NOT NULL
             AND ts IS NOT NULL),
         f AS (SELECT user_id, MIN(day) AS fp FROM e GROUP BY 1),
         nn AS (SELECT fp AS day, COUNT(*) AS n_new FROM f GROUP BY 1),
         sp AS (SELECT DISTINCT day FROM e)
         SELECT sp.day AS day,
           CAST(COALESCE(nn.n_new, 0) AS BIGINT) AS n_new,
           CAST(SUM(COALESCE(nn.n_new, 0)) OVER (
             ORDER BY sp.day ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW) AS BIGINT) AS n_cum
         FROM sp LEFT JOIN nn ON sp.day = nn.day""",
    // q246: the checkpoint+tail replay must reconstruct the WHOLE
    // table (the five slices are a total partition of events).
    "q246_delta_checkpoint_read" ->
      """SELECT event_id, epoch_us(ts) AS event_ts_us, value
         FROM events""",
    // q247: the partitioned round-trip, two partitions' worth.
    "q247_delta_partitioned_read" ->
      """SELECT event_id, value, event_type
         FROM events WHERE event_type IN ('purchase', 'view')""",
    // q257: the q248 closure rolled up to (size, n_sccs).
    "q257_scc_sizes" ->
      """WITH RECURSIVE e AS (
           SELECT src, dst FROM (
             SELECT l_partkey AS src,
               lead(l_partkey, 1) OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey) AS dst
             FROM lineitem)
           WHERE dst IS NOT NULL AND src <= 500 AND dst <= 500
             AND src <> dst
           GROUP BY 1, 2),
         reach AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         reach_m AS MATERIALIZED (SELECT src, dst FROM reach),
         nodes AS (SELECT src AS node FROM e
                   UNION SELECT dst AS node FROM e),
         mutual AS (
           SELECT a.src AS u, a.dst AS v
           FROM reach_m a JOIN reach_m b
             ON a.src = b.dst AND a.dst = b.src),
         scc AS (
           SELECT n.node,
             LEAST(n.node, COALESCE(MIN(m.v), n.node)) AS scc_id
           FROM nodes n LEFT JOIN mutual m ON m.u = n.node
           GROUP BY n.node),
         sizes AS (SELECT scc_id, COUNT(*) AS size FROM scc GROUP BY 1)
         SELECT size, COUNT(*) AS n_sccs FROM sizes GROUP BY 1""",
    // q255: the CASE the copy-on-write update must realize (NULL ids
    // never match BETWEEN, so their value passes through).
    "q255_delta_update_where" ->
      """SELECT event_id, epoch_us(ts) AS event_ts_us,
           CASE WHEN event_id BETWEEN 2000 AND 4000 THEN 0.0
                ELSE value END AS value
         FROM events""",
    // q256: the two later pmod slices (appends after delta version 0);
    // NULL ids coalesce into slice 0 on the Spark side and fail the
    // predicate here — excluded on both sides.
    "q256_delta_appends_since" ->
      """SELECT event_id, epoch_us(ts) AS event_ts_us, value
         FROM events
         WHERE ((COALESCE(event_id, 0) % 3) + 3) % 3 IN (1, 2)""",
    // q253: the complement the copy-on-write delete must leave behind
    // (NULL ids never match BETWEEN, so they survive on both sides).
    "q253_delta_delete_where" ->
      """SELECT event_id, epoch_us(ts) AS event_ts_us, value
         FROM events
         WHERE event_id IS NULL OR event_id NOT BETWEEN 3000 AND 6000""",
    // q263: the change feed reconstructed from the base table — the
    // update and delete ranges are disjoint, so every image (insert,
    // pre, post, delete, appended insert) is a pure slice of lineitem.
    "q263_delta_cdf" ->
      """WITH li AS (
           SELECT l_orderkey,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
             ((COALESCE(l_orderkey, 0) % 3) + 3) % 3 AS s
           FROM lineitem)
         SELECT 'insert' AS change_type, CAST(0 AS BIGINT) AS commit_version,
           count(*) AS n_rows,
           CAST(sum(price) AS DECIMAL(18,2)) AS sum_price
         FROM li WHERE s IN (0, 1)
         UNION ALL
         SELECT 'update_preimage', CAST(1 AS BIGINT), count(*),
           CAST(sum(price) AS DECIMAL(18,2))
         FROM li WHERE s IN (0, 1) AND l_orderkey BETWEEN 100 AND 2000
         UNION ALL
         SELECT 'update_postimage', CAST(1 AS BIGINT), count(*),
           CAST(sum(CAST(price * 2 AS DECIMAL(18,2))) AS DECIMAL(18,2))
         FROM li WHERE s IN (0, 1) AND l_orderkey BETWEEN 100 AND 2000
         UNION ALL
         SELECT 'delete', CAST(2 AS BIGINT), count(*),
           CAST(sum(price) AS DECIMAL(18,2))
         FROM li WHERE s IN (0, 1) AND l_orderkey BETWEEN 3000 AND 6000
         UNION ALL
         SELECT 'insert', CAST(3 AS BIGINT), count(*),
           CAST(sum(price) AS DECIMAL(18,2))
         FROM li WHERE s = 2""",
    // q264: after restore to version 2 (the fully-committed base) every
    // DML is rolled back — the feed is simply the whole table.
    "q264_delta_restore" ->
      """SELECT event_id, epoch_us(ts) AS event_ts_us, value
         FROM events""",
    // q265: the provenance + change counts rebuilt from events alone.
    "q265_delta_history" ->
      """WITH ev AS (
           SELECT event_id,
             ((COALESCE(event_id, 0) % 3) + 3) % 3 AS s
           FROM events)
         SELECT CAST(0 AS BIGINT) AS version, 'WRITE' AS operation,
           (SELECT count(*) FROM ev WHERE s = 0) AS n_changes
         UNION ALL SELECT CAST(1 AS BIGINT), 'WRITE',
           (SELECT count(*) FROM ev WHERE s = 1)
         UNION ALL SELECT CAST(2 AS BIGINT), 'WRITE',
           (SELECT count(*) FROM ev WHERE s = 2)
         UNION ALL SELECT CAST(3 AS BIGINT), 'DELETE',
           (SELECT count(*) FROM ev WHERE event_id BETWEEN 3000 AND 6000)
         UNION ALL SELECT CAST(4 AS BIGINT), 'UPDATE',
           (SELECT 2 * count(*) FROM ev
            WHERE event_id BETWEEN 100 AND 200)""",
    // q266: a recompute over the table's FINAL state — NULL orderkeys
    // never match a range, the update doubles its range, the delete
    // drops its own; exact long-cents terms mirror the fold.
    "q266_cdf_incremental_agg" ->
      """WITH o AS (
           SELECT o_custkey,
             CASE WHEN o_orderkey BETWEEN 100 AND 2000
                  THEN o_totalprice * 2 ELSE o_totalprice END AS price
           FROM orders
           WHERE NOT COALESCE(o_orderkey BETWEEN 3000 AND 6000, FALSE))
         SELECT o_custkey, count(*) AS n_rows,
           CAST(sum(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents
         FROM o GROUP BY o_custkey""",
    // q267: identical truth to q266 — the durable runner changes the
    // plumbing, never the view.
    "q267_durable_cdf_view" ->
      """WITH o AS (
           SELECT o_custkey,
             CASE WHEN o_orderkey BETWEEN 100 AND 2000
                  THEN o_totalprice * 2 ELSE o_totalprice END AS price
           FROM orders
           WHERE NOT COALESCE(o_orderkey BETWEEN 3000 AND 6000, FALSE))
         SELECT o_custkey, count(*) AS n_rows,
           CAST(sum(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents
         FROM o GROUP BY o_custkey""",
    // q268: the source side is the untouched table; the clone side is
    // lineitem minus the deleted range with the updated range doubled
    // (doubling a double is exponent arithmetic — exact both engines).
    "q268_delta_shallow_clone" ->
      """SELECT 'source' AS side, l_orderkey, l_linenumber, l_quantity,
           l_extendedprice
         FROM lineitem
         UNION ALL
         SELECT 'clone', l_orderkey, l_linenumber, l_quantity,
           CASE WHEN l_orderkey BETWEEN 100 AND 2000
                THEN l_extendedprice * 2 ELSE l_extendedprice END
         FROM lineitem
         WHERE NOT COALESCE(l_orderkey BETWEEN 3000 AND 6000, FALSE)""",
    // q269: the merged table = orders with the update range doubled
    // (doubling a double is exponent arithmetic — exact both engines).
    "q269_delta_merge" ->
      """SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey BETWEEN 100 AND 2000
                 AND ((COALESCE(o_orderkey, 0) % 3) + 3) % 3 <> 2
                THEN o_totalprice * 2 ELSE o_totalprice END
             AS o_totalprice
         FROM orders""",
    // q270: the merge commit's feed per change type — preimages at the
    // original price, postimages doubled, inserts the slice-2 rows;
    // DuckDB's HUGEINT sum cast back to BIGINT (q258 discipline).
    "q270_delta_merge_cdf" ->
      """WITH o AS (
           SELECT o_orderkey, o_totalprice,
             ((COALESCE(o_orderkey, 0) % 3) + 3) % 3 AS s
           FROM orders)
         SELECT 'update_preimage' AS change_type, count(*) AS n_rows,
           CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS cents
         FROM o WHERE o_orderkey BETWEEN 100 AND 2000 AND s <> 2
         UNION ALL
         SELECT 'update_postimage', count(*),
           CAST(sum(CAST(FLOOR(o_totalprice * 2 * 100 + 0.5) AS BIGINT))
             AS BIGINT)
         FROM o WHERE o_orderkey BETWEEN 100 AND 2000 AND s <> 2
         UNION ALL
         SELECT 'insert', count(*),
           CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT)
         FROM o WHERE s = 2""",
    // q283: the string-key merge is the q269 fold with oid presented;
    // the merged table equals the one-shot CASE over all orders.
    "q283_delta_merge_string" ->
      """SELECT 'O-' || CAST(o_orderkey AS VARCHAR) AS oid, o_custkey,
           CASE WHEN o_orderkey BETWEEN 100 AND 2000
                 AND ((COALESCE(o_orderkey, 0) % 3) + 3) % 3 <> 2
                THEN o_totalprice * 2 ELSE o_totalprice END
             AS o_totalprice
         FROM orders""",
    // q284: feed per (change_type, bucket) — preimages in the ORIGINAL
    // bucket at the original price, postimages in the custkey+1 bucket
    // doubled, inserts (slice 2) in their original bucket.
    "q284_delta_merge_partitioned" ->
      """WITH o AS (
           SELECT o_orderkey, o_totalprice,
             ((COALESCE(o_orderkey, 0) % 3) + 3) % 3 AS s,
             CAST(((COALESCE(o_custkey, 0) % 4) + 4) % 4 AS VARCHAR) AS b0,
             CAST((((COALESCE(o_custkey, 0) + 1) % 4) + 4) % 4 AS VARCHAR)
               AS b1
           FROM orders)
         SELECT 'update_preimage' AS change_type, b0 AS bucket,
           count(*) AS n_rows,
           CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS cents
         FROM o WHERE o_orderkey BETWEEN 100 AND 2000 AND s <> 2
         GROUP BY 2
         UNION ALL
         SELECT 'update_postimage', b1, count(*),
           CAST(sum(CAST(FLOOR(o_totalprice * 2 * 100 + 0.5) AS BIGINT))
             AS BIGINT)
         FROM o WHERE o_orderkey BETWEEN 100 AND 2000 AND s <> 2
         GROUP BY 2
         UNION ALL
         SELECT 'insert', b0, count(*),
           CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT)
         FROM o WHERE s = 2
         GROUP BY 2""",
    // q271: pre-evolution rows read NULL for the appended column.
    "q271_delta_schema_evolution" ->
      """SELECT o_orderkey, o_custkey,
           CASE WHEN ((COALESCE(o_orderkey, 0) % 2) + 2) % 2 = 1
                THEN o_totalprice END AS o_totalprice
         FROM orders""",
    // q292: the restored snapshot is exactly the even half's two
    // columns — the evolution and delete after version 0 are undone.
    "q292_delta_restore_schema" ->
      """SELECT o_orderkey, o_custkey FROM orders
         WHERE ((COALESCE(o_orderkey, 0) % 2) + 2) % 2 = 0""",
    // q272: the two halves are a total partition of the slice.
    "q272_delta_constraints" ->
      """SELECT event_id, value FROM events WHERE event_id IS NOT NULL""",
    // q273: the window minus the DV-deleted range.
    "q273_delta_zorder" ->
      """SELECT event_id, epoch_us(ts) AS event_ts_us, value FROM events
         WHERE event_id IS NOT NULL AND event_id BETWEEN 0 AND 2000
           AND event_id NOT BETWEEN 1000 AND 1500""",
    // q291: q273's window over the partitioned layout, event_type kept.
    "q291_delta_zorder_part" ->
      """SELECT event_id, epoch_us(ts) AS event_ts_us, value, event_type
         FROM events
         WHERE event_id IS NOT NULL AND event_id BETWEEN 0 AND 2000
           AND event_id NOT BETWEEN 1000 AND 1500""",
    // q274: day recomputes from the post-UPDATE timestamp; epoch-µs is
    // positive so Spark div and DuckDB // agree (truncation-safe).
    "q274_delta_generated" ->
      """WITH ev AS (
           SELECT event_id,
             epoch_us(ts) + CASE WHEN event_id BETWEEN 0 AND 2000
               THEN 86400000000 ELSE 0 END AS event_ts_us
           FROM events WHERE event_id IS NOT NULL)
         SELECT event_id, event_ts_us,
           event_ts_us // 86400000000 AS day
         FROM ev""",
    // q275: the invariants as literal truths over the same slice.
    "q275_delta_identity" ->
      """SELECT count(*) AS n_rows, TRUE AS ids_unique,
           TRUE AS aligned, TRUE AS above_start
         FROM events WHERE event_id IS NOT NULL""",
    // q276: the three streamed slices are the whole non-null set.
    "q276_delta_stream_read" ->
      """SELECT event_id, value FROM events WHERE event_id IS NOT NULL""",
    // q277: the streamed partitioned table is just events.
    "q277_delta_stream_partitioned" ->
      """SELECT event_id, value, event_type FROM events""",
    // q289/q290: two synthetic items per unmerged order, one (ck+7, 9)
    // item for the merged 100..200 slice — exploded back to scalar rows.
    "q289_delta_mapped_nested" ->
      """WITH b AS (
           SELECT o_orderkey, COALESCE(o_custkey, 0) AS ck,
             CASE WHEN o_orderkey BETWEEN 100 AND 200 THEN 1 ELSE 0 END
               AS m
           FROM orders WHERE o_orderkey IS NOT NULL)
         SELECT 'O-' || CAST(o_orderkey AS VARCHAR) AS order_id,
           product_id, qty
         FROM (
           SELECT o_orderkey, ck AS product_id,
             CAST(1 AS BIGINT) AS qty FROM b WHERE m = 0
           UNION ALL
           SELECT o_orderkey, ck + 1000000, CAST(2 AS BIGINT)
           FROM b WHERE m = 0
           UNION ALL
           SELECT o_orderkey, ck + 7, CAST(9 AS BIGINT)
           FROM b WHERE m = 1) t""",
    // q293: the streamed nested table is the q289 unmerged item fold
    // over the WHOLE base.
    "q293_delta_stream_nested" ->
      """WITH b AS (
           SELECT o_orderkey, COALESCE(o_custkey, 0) AS ck
           FROM orders WHERE o_orderkey IS NOT NULL)
         SELECT 'O-' || CAST(o_orderkey AS VARCHAR) AS order_id,
           product_id, qty
         FROM (
           SELECT o_orderkey, ck AS product_id,
             CAST(1 AS BIGINT) AS qty FROM b
           UNION ALL
           SELECT o_orderkey, ck + 1000000, CAST(2 AS BIGINT) FROM b) t""",
    // q296/q297: identical truth to q293 — the mapping layers must be
    // invisible to the logical read.
    "q296_delta_stream_nested_mapped" ->
      """WITH b AS (
           SELECT o_orderkey, COALESCE(o_custkey, 0) AS ck
           FROM orders WHERE o_orderkey IS NOT NULL)
         SELECT 'O-' || CAST(o_orderkey AS VARCHAR) AS order_id,
           product_id, qty
         FROM (
           SELECT o_orderkey, ck AS product_id,
             CAST(1 AS BIGINT) AS qty FROM b
           UNION ALL
           SELECT o_orderkey, ck + 1000000, CAST(2 AS BIGINT) FROM b) t""",
    "q297_delta_stream_nested_mapped_id" ->
      """WITH b AS (
           SELECT o_orderkey, COALESCE(o_custkey, 0) AS ck
           FROM orders WHERE o_orderkey IS NOT NULL)
         SELECT 'O-' || CAST(o_orderkey AS VARCHAR) AS order_id,
           product_id, qty
         FROM (
           SELECT o_orderkey, ck AS product_id,
             CAST(1 AS BIGINT) AS qty FROM b
           UNION ALL
           SELECT o_orderkey, ck + 1000000, CAST(2 AS BIGINT) FROM b) t""",
    "q290_delta_mapped_nested_id" ->
      """WITH b AS (
           SELECT o_orderkey, COALESCE(o_custkey, 0) AS ck,
             CASE WHEN o_orderkey BETWEEN 100 AND 200 THEN 1 ELSE 0 END
               AS m
           FROM orders WHERE o_orderkey IS NOT NULL)
         SELECT 'O-' || CAST(o_orderkey AS VARCHAR) AS order_id,
           product_id, qty
         FROM (
           SELECT o_orderkey, ck AS product_id,
             CAST(1 AS BIGINT) AS qty FROM b WHERE m = 0
           UNION ALL
           SELECT o_orderkey, ck + 1000000, CAST(2 AS BIGINT)
           FROM b WHERE m = 0
           UNION ALL
           SELECT o_orderkey, ck + 7, CAST(9 AS BIGINT)
           FROM b WHERE m = 1) t""",
    // q294: zero-padded lexicographic range == the numeric range.
    "q294_delta_string_range" ->
      """SELECT 'ord-' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0')
           AS okey, o_custkey, o_totalprice
         FROM orders WHERE o_orderkey BETWEEN 100 AND 200""",
    // q288: the merged table (prices doubled in 100..200) plus the
    // point-lookup row again; *2 is an exact double scaling.
    "q288_delta_bloom_string" ->
      """WITH t AS (
           SELECT 'ord-' || CAST(o_orderkey AS VARCHAR) AS okey,
             o_custkey,
             CASE WHEN o_orderkey BETWEEN 100 AND 200
                  THEN o_totalprice * 2 ELSE o_totalprice END
               AS o_totalprice
           FROM orders WHERE o_orderkey IS NOT NULL)
         SELECT * FROM t
         UNION ALL
         SELECT * FROM t WHERE okey = 'ord-150'""",
    // q295: q288's merged-table shape with an INT key; CAST matches
    // the Spark side's int column exactly.
    "q295_delta_merge_int" ->
      """WITH t AS (
           SELECT CAST(o_orderkey AS INTEGER) AS okey,
             o_custkey,
             CASE WHEN o_orderkey BETWEEN 100 AND 200
                  THEN o_totalprice * 2 ELSE o_totalprice END
               AS o_totalprice
           FROM orders WHERE o_orderkey IS NOT NULL)
         SELECT * FROM t
         UNION ALL
         SELECT * FROM t WHERE okey = 150""",
    // q298: the current snapshot after the range delete — vacuum must
    // not change what readers see.
    "q298_delta_vacuum" ->
      """SELECT event_id, value FROM events
         WHERE event_id IS NOT NULL
           AND event_id NOT BETWEEN 1000 AND 2000""",
    // q299: the as-of read at v1's timestamp is slices 0 and 1.
    "q299_delta_read_asof" ->
      """SELECT event_id, value FROM events
         WHERE event_id IS NOT NULL
           AND ((event_id % 3) + 3) % 3 IN (0, 1)""",
    // q300: the conjunction as a plain WHERE clause.
    "q300_delta_read_where" ->
      """SELECT event_id, value, event_type FROM events
         WHERE event_id IS NOT NULL
           AND event_id BETWEEN 100 AND 5000
           AND event_type = 'purchase'""",
    // q301: IS NOT NULL as a plain filter — the nullCount prune is a
    // scan optimization, never a semantic change.
    "q301_delta_read_notnull" ->
      """SELECT event_id, value FROM events WHERE event_id IS NOT NULL""",
    // q302: the current snapshot — metadata cleanup must not change
    // what readers see.
    "q302_delta_log_cleanup" ->
      """SELECT event_id, value FROM events WHERE event_id IS NOT NULL""",
    // q303: IN lists as plain filters — the stats+bloom prune is a
    // scan optimization, never a semantic change.
    "q303_delta_read_in" ->
      """SELECT event_id, value, event_type FROM events
         WHERE event_id IS NOT NULL
           AND event_id IN (4, 8, 1001, 2005)
           AND event_type IN ('purchase', 'view', 'click')""",
    // q305: the timestamp window opens at the UPDATE commit — update
    // images at original/doubled prices plus the later delete; the
    // insert history stays outside the window.
    "q305_delta_cdf_asof" ->
      """SELECT 'update_preimage' AS change_type, count(*) AS n_rows,
           CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS cents
         FROM orders WHERE o_orderkey BETWEEN 100 AND 2000
         UNION ALL
         SELECT 'update_postimage', count(*),
           CAST(sum(CAST(FLOOR(o_totalprice * 2 * 100 + 0.5) AS BIGINT))
             AS BIGINT)
         FROM orders WHERE o_orderkey BETWEEN 100 AND 2000
         UNION ALL
         SELECT 'delete', count(*),
           CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT)
         FROM orders WHERE o_orderkey BETWEEN 3000 AND 6000""",
    // q306: the restored snapshot is the first two thirds.
    "q306_delta_restore_asof" ->
      """SELECT event_id, value FROM events
         WHERE event_id IS NOT NULL AND event_id % 3 IN (0, 1)""",
    // q307: rename is a relabel, drop removes the column — the data
    // underneath never changes.
    "q307_delta_column_ddl" ->
      """SELECT event_id, value AS score FROM events
         WHERE event_id IS NOT NULL""",
    // q308: the streamed window is the last two thirds.
    "q308_delta_stream_since_ts" ->
      """SELECT event_id, value FROM events
         WHERE event_id IS NOT NULL AND event_id % 3 IN (1, 2)""",
    // q309: the manifest enumerates exactly the post-delete actives.
    "q309_delta_symlink_manifest" ->
      """SELECT event_id, value FROM events
         WHERE event_id IS NOT NULL
           AND event_id NOT BETWEEN 1000 AND 2000""",
    // q310: the clone pinned the first two thirds.
    "q310_delta_clone_asof" ->
      """SELECT event_id, value FROM events
         WHERE event_id IS NOT NULL AND event_id % 3 IN (0, 1)""",
    // q311: only the post-enablement update images.
    "q311_delta_set_properties" ->
      """SELECT 'update_preimage' AS change_type, count(*) AS n_rows,
           CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS cents
         FROM orders WHERE o_orderkey BETWEEN 100 AND 2000
         UNION ALL
         SELECT 'update_postimage', count(*),
           CAST(sum(CAST(FLOOR(o_totalprice * 2 * 100 + 0.5) AS BIGINT))
             AS BIGINT)
         FROM orders WHERE o_orderkey BETWEEN 100 AND 2000""",
    // q312: the auto-maintained manifest lists exactly the
    // post-delete actives.
    "q312_delta_auto_manifest" ->
      """SELECT event_id, value FROM events
         WHERE event_id IS NOT NULL
           AND event_id NOT BETWEEN 1000 AND 2000""",
    // q313: rate limiting moves batch boundaries, never content.
    "q313_delta_stream_rate" ->
      """SELECT event_id, value FROM events WHERE event_id IS NOT NULL""",
    // q314: both concurrent appends land — the union of all thirds.
    "q314_delta_concurrent_append" ->
      """SELECT event_id, value FROM events WHERE event_id IS NOT NULL""",
    // q315: widening is lossless — the mixed table IS the whole slice.
    "q315_delta_type_widening" ->
      """SELECT event_id, value FROM events WHERE event_id IS NOT NULL""",
    // q316: the variant path extraction equals a JSON walk of props.
    "q316_delta_variant" ->
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS pk
         FROM events
         WHERE event_id IS NOT NULL AND props IS NOT NULL""",
    // q304: the snapshot replayed through the auto-written checkpoint
    // — compaction must not change what readers see.
    "q304_delta_auto_checkpoint" ->
      """SELECT event_id, value FROM events WHERE event_id IS NOT NULL""",
    // q278: the point lookup is a plain equality filter.
    "q278_delta_bloom_lookup" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_custkey = 371""",
    // q279: the piped table is the whole non-null slice, exactly once.
    "q279_delta_stream_sink" ->
      """SELECT event_id, value FROM events WHERE event_id IS NOT NULL""",
    // q280: per change type — inserts at original prices (the update
    // lands after the appends), delete its range, pre/post the update
    // range at original/doubled prices; HUGEINT cast per q258.
    "q280_delta_stream_cdf" ->
      """SELECT 'insert' AS change_type, count(*) AS n_rows,
           CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS cents
         FROM orders
         UNION ALL
         SELECT 'delete', count(*),
           CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT)
         FROM orders WHERE o_orderkey BETWEEN 3000 AND 6000
         UNION ALL
         SELECT 'update_preimage', count(*),
           CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT)
         FROM orders WHERE o_orderkey BETWEEN 100 AND 2000
         UNION ALL
         SELECT 'update_postimage', count(*),
           CAST(sum(CAST(FLOOR(o_totalprice * 2 * 100 + 0.5) AS BIGINT))
             AS BIGINT)
         FROM orders WHERE o_orderkey BETWEEN 100 AND 2000""",
    // q286: the partitioned sink round-trip must return the same full
    // slice with the derived bucket (seed row filtered out).
    "q286_delta_stream_sink_part" ->
      """SELECT event_id, value,
           CAST(((COALESCE(CAST(FLOOR(value) AS BIGINT), 0) % 4) + 4) % 4
             AS VARCHAR) AS bucket
         FROM events WHERE event_id IS NOT NULL""",
    // q281: the adopted table filtered to three partitions.
    "q281_delta_convert" ->
      """SELECT event_id, value, event_type FROM events
         WHERE event_type IN ('purchase', 'view', 'click')""",
    // q261: the mapped read must surface logical names + the slice.
    "q261_delta_mapped_read" ->
      """SELECT event_id, value FROM events
         WHERE event_id IS NOT NULL AND event_id <= 3000""",
    // q287: id-mode resolution must surface the same slice as q261.
    "q287_delta_mapped_id_read" ->
      """SELECT event_id, value FROM events
         WHERE event_id IS NOT NULL AND event_id <= 3000""",
    // q285: one-shot reconstruction of the DML suite over the mapped
    // table — delete 1..500, double value in 1000..1500, then the merge
    // replaces 2000..2500 (half the value) and inserts shifted copies
    // of 600..700. *2 and *0.5 are exact double scalings.
    "q285_delta_mapped_write" ->
      """WITH base AS (
           SELECT event_id, MAX(value) AS value FROM events
           WHERE event_id IS NOT NULL AND event_id <= 3000 GROUP BY 1),
         after_del AS (
           SELECT * FROM base WHERE event_id NOT BETWEEN 1 AND 500),
         after_upd AS (
           SELECT event_id,
             CASE WHEN event_id BETWEEN 1000 AND 1500
                  THEN value * 2 ELSE value END AS value
           FROM after_del),
         src AS (
           SELECT event_id, value * 0.5 AS value FROM base
           WHERE event_id BETWEEN 2000 AND 2500
           UNION ALL
           SELECT event_id + 100000, value FROM base
           WHERE event_id BETWEEN 600 AND 700)
         SELECT a.event_id, a.value FROM after_upd a
         WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.event_id = a.event_id)
         UNION ALL
         SELECT event_id, value FROM src""",
    // q262: the v2-checkpoint reconstruction must equal the whole slice.
    "q262_delta_v2cp_read" ->
      """SELECT event_id, value FROM events WHERE event_id IS NOT NULL""",
    // q260: DV deletes must equal the same two-range complement.
    "q260_delta_dv_delete" ->
      """SELECT event_id, epoch_us(ts) AS event_ts_us, value
         FROM events
         WHERE event_id IS NULL OR (event_id NOT BETWEEN 3000 AND 6000
           AND event_id NOT BETWEEN 8000 AND 8500)""",
    // q254: condensation edges from the q248 closure — distinct
    // (scc_a, scc_b) pairs with an original edge between components.
    "q254_scc_condensation" ->
      """WITH RECURSIVE e AS (
           SELECT src, dst FROM (
             SELECT l_partkey AS src,
               lead(l_partkey, 1) OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey) AS dst
             FROM lineitem)
           WHERE dst IS NOT NULL AND src <= 500 AND dst <= 500
             AND src <> dst
           GROUP BY 1, 2),
         reach AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         reach_m AS MATERIALIZED (SELECT src, dst FROM reach),
         nodes AS (SELECT src AS node FROM e
                   UNION SELECT dst AS node FROM e),
         mutual AS (
           SELECT a.src AS u, a.dst AS v
           FROM reach_m a JOIN reach_m b
             ON a.src = b.dst AND a.dst = b.src),
         scc AS (
           SELECT n.node,
             LEAST(n.node, COALESCE(MIN(m.v), n.node)) AS scc_id
           FROM nodes n LEFT JOIN mutual m ON m.u = n.node
           GROUP BY n.node)
         SELECT DISTINCT sa.scc_id AS scc_a, sb.scc_id AS scc_b
         FROM e JOIN scc sa ON e.src = sa.node
                JOIN scc sb ON e.dst = sb.node
         WHERE sa.scc_id <> sb.scc_id""",
    // q251: the true count the stats-only sum must equal.
    "q251_delta_stats_count" ->
      "SELECT COUNT(*) AS n_rows FROM events",
    // q252: the range read the file-skipping scan must equal.
    "q252_delta_skipping_read" ->
      """SELECT event_id, epoch_us(ts) AS event_ts_us, value
         FROM events WHERE event_id BETWEEN 3000 AND 6000""",
    // q249: the one-shot join the delta-rule fold must equal.
    "q249_incremental_join_view" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, l_partkey, l_quantity
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey""",
    // q259: the durable runner must land on the same one-shot join.
    "q259_durable_join_view" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, l_partkey, l_quantity
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey""",
    // q250: compaction must preserve the whole table.
    "q250_delta_compacted_read" ->
      """SELECT event_id, value, event_type FROM events""",
    // q248: brute-force SCC — transitive closure by recursive CTE,
    // mutual-reachability pairs, scc_id = min mutually-reachable id
    // (self included).
    "q248_scc" ->
      """WITH RECURSIVE e AS (
           SELECT src, dst FROM (
             SELECT l_partkey AS src,
               lead(l_partkey, 1) OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey) AS dst
             FROM lineitem)
           WHERE dst IS NOT NULL AND src <= 500 AND dst <= 500
             AND src <> dst
           GROUP BY 1, 2),
         reach AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         reach_m AS MATERIALIZED (SELECT src, dst FROM reach),
         nodes AS (SELECT src AS node FROM e
                   UNION SELECT dst AS node FROM e),
         mutual AS (
           SELECT a.src AS u, a.dst AS v
           FROM reach_m a JOIN reach_m b
             ON a.src = b.dst AND a.dst = b.src)
         SELECT n.node,
           LEAST(n.node, COALESCE(MIN(m.v), n.node)) AS scc_id
         FROM nodes n LEFT JOIN mutual m ON m.u = n.node
         GROUP BY n.node""",
    // q245: value-grain cumulative counts, HUGEINT cross-multiplied
    // max-diff, (diff desc, value) pick.
    "q245_ks_test" ->
      """WITH e AS (SELECT event_type AS g,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM events
           WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
         byv AS (SELECT v,
             SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS cb
           FROM e GROUP BY 1),
         c AS (SELECT v,
             SUM(ca) OVER w AS cuma, SUM(cb) OVER w AS cumb,
             SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
           FROM byv WINDOW w AS (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         d AS (SELECT v, na, nb,
             abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na)
               AS diff
           FROM c),
         p AS (SELECT * FROM d ORDER BY diff DESC, v LIMIT 1)
         SELECT 'purchase' AS group_a, 'view' AS group_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST((diff * 1000000) // (CAST(na AS HUGEINT) * nb) AS BIGINT)
             AS d_ppm,
           v AS at_value
         FROM p""",
    // q244: the same lag-window gap scan.
    "q244_sequence_gaps" ->
      """WITH d AS (SELECT DISTINCT event_type, event_id FROM events),
         l AS (SELECT event_type, event_id,
             lag(event_id) OVER (PARTITION BY event_type
               ORDER BY event_id) AS prev
           FROM d)
         SELECT event_type, prev + 1 AS gap_start, event_id - 1 AS gap_end,
           CAST(event_id - prev - 1 AS BIGINT) AS n_missing
         FROM l WHERE prev IS NOT NULL AND event_id - prev > 1""",
    // q243: the same two lag windows and the cross-multiplied ratio in
    // HUGEINT.
    "q243_seasonal_naive_mase" ->
      """WITH dly AS (SELECT event_type AS series,
             epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y_fp
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
         l AS (SELECT series, y_fp,
             lag(y_fp, 7) OVER w AS ls, lag(y_fp, 1) OVER w AS l1
           FROM dly WINDOW w AS (PARTITION BY series ORDER BY day)),
         a AS (SELECT series, COUNT(*) AS n_points,
             CAST(SUM(CASE WHEN ls IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_seasonal_errors,
             CAST(SUM(CASE WHEN ls IS NOT NULL THEN abs(y_fp - ls)
               ELSE 0 END) AS BIGINT) AS sum_abs_seasonal_fp,
             CAST(SUM(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN l1 IS NOT NULL THEN abs(y_fp - l1)
               ELSE 0 END) AS BIGINT) AS sum_abs_naive_fp
           FROM l GROUP BY 1)
         SELECT series, n_points, n_seasonal_errors, sum_abs_seasonal_fp,
           sum_abs_naive_fp,
           CAST(CASE WHEN n_seasonal_errors > 0 AND sum_abs_naive_fp > 0
             THEN (CAST(sum_abs_seasonal_fp AS HUGEINT) * n1 * 1000000) //
               (CAST(sum_abs_naive_fp AS HUGEINT) * n_seasonal_errors)
             END AS BIGINT) AS mase_ppm
         FROM a""",
    // q242: q160's dly CTE, lag deltas, then the prefix-sum/extrema
    // closed form of the CUSUM recursion.
    "q242_cusum_changepoints" ->
      """WITH dly AS (SELECT event_type AS series,
             epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y_fp
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
         fl AS (SELECT series, day,
             y_fp - COALESCE(lag(y_fp) OVER (PARTITION BY series
               ORDER BY day), y_fp) AS delta_fp
           FROM dly),
         c AS (SELECT series, day, delta_fp,
             SUM(delta_fp - 0 - 50000) OVER w AS cu,
             SUM(delta_fp - 0 + 50000) OVER w AS cd
           FROM fl WINDOW w AS (PARTITION BY series ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         m AS (SELECT series, day, delta_fp, cu, cd,
             least(CAST(0 AS BIGINT), MIN(cu) OVER w) AS mu,
             greatest(CAST(0 AS BIGINT), MAX(cd) OVER w) AS md
           FROM c WINDOW w AS (PARTITION BY series ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT series, day, delta_fp AS y_fp,
           CAST(cu - mu AS BIGINT) AS cusum_up_fp,
           CAST(md - cd AS BIGINT) AS cusum_down_fp,
           (cu - mu) > 1000000 AS alarm_up,
           (md - cd) > 1000000 AS alarm_down
         FROM m""",
    // q241: the plain join+rollup the bucketed layout must reproduce.
    "q241_bucketed_join" ->
      """SELECT o_custkey, COUNT(*) AS n_items,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
             AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY 1""",
    // q238: top-20 vocab by (freq desc, token), anti-membership rollup.
    "q238_oov_rate" ->
      """WITH t AS (SELECT source, u.w AS w
           FROM (SELECT source, string_split(text, ' ') AS ws
                 FROM documents) x, UNNEST(ws) u(w)),
         v AS (SELECT w FROM (SELECT w, COUNT(*) AS n FROM t GROUP BY 1
               ORDER BY n DESC, w LIMIT 20) y)
         SELECT source, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN t.w IN (SELECT w FROM v) THEN 0 ELSE 1 END)
             AS BIGINT) AS n_oov,
           CAST((SUM(CASE WHEN t.w IN (SELECT w FROM v) THEN 0 ELSE 1 END)
             * 1000000) // COUNT(*) AS BIGINT) AS oov_ppm
         FROM t GROUP BY source""",
    // q239: two-level distinct agg, NULL counted via the max flag.
    "q239_l_diversity" ->
      """WITH g AS (SELECT c_nationkey,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000
               AS bal_bucket,
             COUNT(*) AS c,
             COUNT(DISTINCT c_mktsegment) +
               MAX(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS d
           FROM customer GROUP BY 1, 2)
         SELECT CAST(3 AS BIGINT) AS l, COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN d < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(SUM(CASE WHEN d < 3 THEN c ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(MIN(d) AS BIGINT) AS min_diversity
         FROM g""",
    // q240: one running-max pass fanned to the four literal delays.
    "q240_lateness_sweep" ->
      """WITH e AS (SELECT event_type AS stream, event_id,
             epoch_us(ts) AS ts_us
           FROM events WHERE ts IS NOT NULL),
         l AS (SELECT stream,
             MAX(ts_us) OVER (PARTITION BY stream ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ts_us
               AS late
           FROM e),
         x AS (SELECT stream, late, t.t AS threshold_us
               FROM l, UNNEST([0, 60000000, 600000000, 3600000000]) t(t))
         SELECT stream, CAST(threshold_us AS BIGINT) AS threshold_us,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN late > threshold_us THEN 1 ELSE 0 END)
             AS BIGINT) AS n_late,
           CAST((SUM(CASE WHEN late > threshold_us THEN 1 ELSE 0 END)
             * 1000000) // COUNT(*) AS BIGINT) AS late_fp
         FROM x GROUP BY 1, 2""",
    // q236: positional UNNEST pair build with the same 2^20/d weight
    // literals, top-100 by (weight desc, center, context).
    "q236_skipgram_pairs" -> {
      val wCase = (1 to 3).map(d =>
        s"WHEN $d THEN ${math.round((1L << 20).toDouble / d)}").mkString(" ")
      s"""WITH st AS (SELECT string_split(text, ' ') AS w FROM documents),
         px AS (SELECT w[i.i] AS center, w[j.j] AS context,
             abs(j.j - i.i) AS d
           FROM st,
             UNNEST(range(1, len(w) + 1)) i(i),
             UNNEST(range(1, len(w) + 1)) j(j)
           WHERE abs(j.j - i.i) BETWEEN 1 AND 3),
         cnt AS (SELECT center, context, COUNT(*) AS n_pairs,
             CAST(SUM(CASE d $wCase END) AS BIGINT) AS weight_fp
           FROM px GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (
                 ORDER BY weight_fp DESC, center, context) AS rank
               FROM cnt)
         SELECT center, context, n_pairs, weight_fp,
           CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 100"""
    },
    // q237: the brute-force triple formulation (closure makes the
    // pruned plan equal).
    "q237_frequent_triples" ->
      """WITH bi AS MATERIALIZED (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
           FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL)
         SELECT x.it AS item_a, y.it AS item_b, z.it AS item_c,
           COUNT(*) AS support
         FROM bi x JOIN bi y ON x.bk = y.bk AND x.it < y.it
           JOIN bi z ON x.bk = z.bk AND z.it > y.it
         GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2""",
    // q234: the q102 CMS cell replay on both (identical) sides, HUGEINT
    // dot products, min over hash rows.
    "q234_cms_join_size" ->
      """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events
           WHERE user_id IS NOT NULL),
         cells AS (SELECT i.i AS hash_row,
             CAST(('0x' || substr(md5('cms-' || i.i || '-' || v), 1, 15))
               AS BIGINT) & 255 AS bucket,
             COUNT(*) AS cnt
           FROM t, UNNEST(range(0, 4)) i(i) GROUP BY 1, 2),
         dots AS (SELECT hash_row, SUM(CAST(cnt AS HUGEINT) * cnt) AS dot
                  FROM cells GROUP BY 1),
         spine AS (SELECT i.i AS hash_row FROM UNNEST(range(0, 4)) i(i))
         SELECT CAST(MIN(COALESCE(dot, 0)) AS BIGINT) AS est_join_rows
         FROM spine LEFT JOIN dots USING (hash_row)""",
    // q282: the one-shot rollup the decimal-state fold must equal.
    // Mirror of mergeAggState's quantize-once discipline:
    // floor(value*100 + 0.5) cents (the +0.5 recovers exact-2dp money
    // whose double product lands below the integer) summed as BIGINT
    // (exact, order-free). Presented as raw BIGINT cents — the retired
    // q235 presented the same values as DECIMAL(18,2) and the driver's
    // pandas path rendered DuckDB's HUGEINT-widened decimal
    // hash-divergently from Spark's on IDENTICAL values.
    "q282_agg_state_decimal" ->
      """SELECT event_type, COUNT(*) AS n_rows,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents
         FROM events WHERE value IS NOT NULL GROUP BY 1""",
    // q258: integer-cents control for q235 — same one-shot rollup, raw
    // BIGINT cents, no decimal anywhere. The outer BIGINT cast matters:
    // DuckDB's SUM(BIGINT) widens to HUGEINT, which pandas renders as
    // float64 — hash-diverging from Spark's int64 on IDENTICAL values.
    "q258_agg_state_fold" ->
      """SELECT event_type, COUNT(*) AS n_rows,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents
         FROM events WHERE value IS NOT NULL GROUP BY 1""",
    // q232: the same regex + list-HOF canonicalization in DuckDB
    // (list_filter/list_sort/array_to_string).
    "q232_url_canonical" ->
      """WITH raw AS (
           SELECT doc_id, 0 AS variant,
             'https://Example.COM/docs/' || CAST(doc_id % 50 AS VARCHAR) ||
               '/?utm_source=mail&id=' || CAST(doc_id % 7 AS VARCHAR) ||
               '&b=2' AS url
           FROM documents
           UNION ALL
           SELECT doc_id, 1,
             'http://example.com/docs/' || CAST(doc_id % 50 AS VARCHAR) ||
               '?b=2&id=' || CAST(doc_id % 7 AS VARCHAR)
           FROM documents
           UNION ALL
           SELECT doc_id, 2,
             'https://EXAMPLE.com/docs/' || CAST(doc_id % 50 AS VARCHAR) ||
               '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&b=2&fbclid=xyz'
           FROM documents),
         parts AS (SELECT doc_id, variant,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS host,
             regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
             regexp_extract(url, '\?([^#]*)', 1) AS query
           FROM raw),
         f AS (SELECT doc_id, variant, host, rtrim(path, '/') AS path,
             array_to_string(list_sort(list_filter(string_split(query, '&'),
               p -> p <> '' AND NOT starts_with(p, 'utm_')
                 AND NOT starts_with(p, 'gclid=')
                 AND NOT starts_with(p, 'fbclid='))), '&') AS q
           FROM parts)
         SELECT doc_id, variant,
           host || path || CASE WHEN q = '' THEN '' ELSE '?' || q END
             AS canon_url
         FROM f""",
    // q233: duration-grain risk sets, the floor-log terms, floor-exp
    // survival.
    "q233_kaplan_meier" ->
      """WITH spans AS (
           SELECT user_id, MIN(epoch_us(ts)) AS first_us,
             MAX(epoch_us(ts)) AS last_us
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1),
         lab AS (SELECT (last_us - first_us) // 86400000000 AS t,
             last_us < (SELECT MAX(last_us) FROM spans) - 604800000000
               AS e
           FROM spans),
         byt AS (SELECT t,
             CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
           FROM lab GROUP BY 1),
         rk AS (SELECT *,
             CAST(SUM(n_events + n_censored) OVER () AS BIGINT) -
               CAST(COALESCE(SUM(n_events + n_censored) OVER (
                 ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
                   1 PRECEDING), 0) AS BIGINT) AS n_at_risk
           FROM byt),
         tm AS (SELECT *,
             CASE WHEN n_events = 0 OR n_events = n_at_risk THEN 0
               ELSE CAST(FLOOR(ln(CAST(n_at_risk - n_events AS DOUBLE) /
                 CAST(n_at_risk AS DOUBLE)) * 1000000) AS BIGINT)
             END AS term,
             MAX(CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS dead
           FROM rk),
         cm AS (SELECT *, CAST(SUM(term) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS ls FROM tm)
         SELECT t, n_at_risk, n_events, n_censored,
           CASE WHEN dead = 1 THEN NULL ELSE ls END AS log_s_fp,
           CAST(CASE WHEN dead = 1 THEN 0
             ELSE FLOOR(exp(CAST(ls AS DOUBLE) / 1000000) * 1000000)
             END AS BIGINT) AS survival_ppm
         FROM cm""",
    // q229: observed-cell MI with the floor-log quantize-once terms and
    // the pmod floor division (signed numerator).
    "q229_mutual_information" ->
      """WITH conf AS (SELECT lang, source, COUNT(*) AS n
           FROM documents GROUP BY 1, 2),
         m AS (SELECT n,
             SUM(n) OVER (PARTITION BY lang) AS r,
             SUM(n) OVER (PARTITION BY source) AS c,
             SUM(n) OVER () AS t
           FROM conf),
         l AS (SELECT n, t,
             CAST(FLOOR(ln(CAST(n AS DOUBLE) * t /
               (CAST(r AS DOUBLE) * c)) * 1000000) AS BIGINT) AS lq
           FROM m),
         a AS (SELECT CAST(MAX(t) AS BIGINT) AS n_rows,
             COUNT(*) AS n_cells,
             CAST(SUM(n * lq) AS BIGINT) AS s
           FROM l)
         SELECT n_rows, n_cells,
           (s - ((s % n_rows + n_rows) % n_rows)) // n_rows AS mi_fp
         FROM a""",
    // q230: identical sufficient statistics, identical pinned double
    // chain (cast order mirrored operation by operation).
    "q230_welch_ttest" ->
      """WITH e AS (SELECT event_type AS g,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS q
           FROM events
           WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
         st AS (SELECT g, COUNT(*) AS n,
             SUM(CAST(q AS HUGEINT)) AS s1,
             SUM(CAST(q AS HUGEINT) * q) AS s2
           FROM e GROUP BY 1),
         s AS (SELECT g, CAST(n AS DOUBLE) AS n,
             CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2
           FROM st),
         v AS (SELECT g, n, s1 / n AS mean,
             (n * s2 - s1 * s1) / (n * (n - 1)) AS var
           FROM s),
         a AS (SELECT g, n, mean, var, var / n AS se2 FROM v
               ORDER BY g LIMIT 1),
         b AS (SELECT g, n, mean, var, var / n AS se2 FROM v
               ORDER BY g DESC LIMIT 1)
         SELECT a.g AS group_a, b.g AS group_b,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           a.mean AS mean_a, b.mean AS mean_b,
           (a.mean - b.mean) / sqrt(a.se2 + b.se2) AS t_stat,
           (a.se2 + b.se2) * (a.se2 + b.se2) /
             (a.se2 * a.se2 / (a.n - 1) + b.se2 * b.se2 / (b.n - 1))
             AS df_welch
         FROM a CROSS JOIN b""",
    // q231: the direct distinct self-join replay.
    "q231_bipartite_project" ->
      """WITH d AS (SELECT DISTINCT l_orderkey AS l, l_partkey AS r
           FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL)
         SELECT a.r AS src, b.r AS dst, COUNT(*) AS n_shared
         FROM d a JOIN d b ON a.l = b.l AND a.r < b.r
         GROUP BY 1, 2 HAVING COUNT(*) >= 2""",
    // q227: the same translate map (generated from the build-time
    // confusable strings) + md5 equality pairs.
    "q227_homoglyph_dedup" -> {
      val from = TextStats.homoglyphFrom
      val to = TextStats.homoglyphTo
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         ev AS (SELECT doc_id + 1000000 AS doc_id,
             translate(text, 'o', 'о') AS text
           FROM base WHERE doc_id % 10 = 0),
         corpus AS (SELECT * FROM base UNION ALL SELECT * FROM ev),
         k AS (SELECT doc_id, md5(translate(text, '$from', '$to')) AS k
               FROM corpus)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM k a JOIN k b ON a.k = b.k AND a.doc_id < b.doc_id"""
    },
    // q228: long-form value counts, (count desc, value) winner per
    // (cluster, field), pivot back.
    "q228_golden_record" ->
      """WITH rec AS (
           SELECT c_custkey AS component, c_name AS name,
             c_mktsegment AS segment FROM customer
           UNION ALL
           SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN upper(c_name) ELSE c_name END,
             c_mktsegment FROM customer
           UNION ALL
           SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END
           FROM customer),
         lng AS (SELECT component, f.f AS f,
             CASE f.f WHEN 'name' THEN name ELSE segment END AS v
           FROM rec, UNNEST(['name', 'segment']) f(f)),
         cnt AS (SELECT component, f, v, COUNT(*) AS n FROM lng
                 WHERE v IS NOT NULL GROUP BY 1, 2, 3),
         win AS (SELECT component, f, v FROM (
             SELECT *, row_number() OVER (PARTITION BY component, f
               ORDER BY n DESC, v) AS rn FROM cnt) x WHERE rn = 1)
         SELECT component,
           MAX(CASE WHEN f = 'name' THEN v END) AS name,
           MAX(CASE WHEN f = 'segment' THEN v END) AS segment
         FROM win GROUP BY component""",
    // q226: generated per-round register max-merge CTEs + the corrected
    // estimator replay at p=4 (m=16, rho = 57 − bitlen(h >> 4)).
    "q226_hyperball" -> {
      val m = 16L
      val alphaFp240 = (7213L * m * m * m / (10000L * m + 10790L)) * (1L << 40)
      val lutSql = graft.ml.Sketches.linearCountLut(4).mkString("[", ", ", "]")
      def mergeRound(prev: String, cur: String) =
        s"""$cur AS MATERIALIZED (SELECT node, bucket,
             MAX(max_rho) AS max_rho FROM (
             SELECT node, bucket, max_rho FROM $prev
             UNION ALL
             SELECT e.src AS node, r.bucket, r.max_rho
             FROM e JOIN $prev r ON e.dst = r.node) u
           GROUP BY 1, 2)"""
      val rawEst = s"$alphaFp240 // greatest(ps + (16 - pr) * 1099511627776, 1)"
      s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
         e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src,
             b.l_partkey AS dst
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey),
         n AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e
               UNION ALL SELECT dst FROM e) x),
         h AS (SELECT node, CAST(('0x' || substr(md5('hll-' ||
             CAST(node AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM n),
         r0 AS MATERIALIZED (SELECT node, h & 15 AS bucket,
             CAST(57 - length(ltrim(bin(h >> 4), '0')) AS INTEGER)
               AS max_rho FROM h),
         ${mergeRound("r0", "r1")},
         ${mergeRound("r1", "r2")},
         g AS (SELECT node,
             SUM(CAST(1099511627776 AS BIGINT) >> max_rho) AS ps,
             COUNT(*) AS pr
           FROM r2 GROUP BY 1)
         SELECT node, CAST(CASE WHEN $rawEst <= 40 AND pr < 16
             THEN list_extract($lutSql, CAST(16 - pr AS INTEGER) + 1)
           ELSE $rawEst END AS BIGINT) AS est_reachable
         FROM g"""
    },
    // q224: two-level agg replay.
    "q224_functional_dependency" ->
      """WITH g AS (SELECT o_custkey, COUNT(*) AS n,
             COUNT(DISTINCT o_orderstatus) AS d
           FROM orders GROUP BY 1)
         SELECT COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(SUM(CASE WHEN d > 1 THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_affected,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(CASE WHEN COUNT(*) > 0 THEN
             (SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
             END AS BIGINT) AS violation_ppm
         FROM g""",
    // q225: the footer sum must equal the true count of the same rows.
    "q225_metadata_count" ->
      "SELECT COUNT(*) AS n_rows FROM events",
    // q221: the SAME four build-time constants, integer cumulative sums.
    "q221_sprt_monitor" -> {
      val (up, down, a, b) = graft.ml.Eval.sprtConstants(0.18, 0.22, 0.05, 0.2)
      s"""WITH e AS (SELECT event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS l
           FROM events WHERE event_type IS NOT NULL),
         c AS (SELECT event_id,
             COUNT(*) OVER w AS n_seen, SUM(l) OVER w AS n_pos
           FROM e WINDOW w AS (ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, CAST(n_seen AS BIGINT) AS n_seen,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_pos * ($up) + (n_seen - n_pos) * ($down) AS BIGINT)
             AS llr_fp,
           CASE WHEN n_pos * ($up) + (n_seen - n_pos) * ($down) >= $a
               THEN 'accept_h1'
             WHEN n_pos * ($up) + (n_seen - n_pos) * ($down) <= $b
               THEN 'accept_h0'
             ELSE 'continue' END AS decision
         FROM c"""
    },
    // q222: digit counts + the SAME expected-share literals.
    "q222_benford_audit" -> {
      val expPpm = graft.quality.Checks.benfordExpectedPpm
      val expCase = (1 to 9).map(d =>
        s"WHEN ${d} THEN ${expPpm(d)}").mkString(" ")
      s"""WITH v AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             AS BIGINT) AS v FROM orders),
         c AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER)
                 AS digit, COUNT(*) AS n
               FROM v WHERE v > 0 GROUP BY 1),
         ex AS (SELECT CAST(SUM(CASE WHEN v > 0 THEN 0 ELSE 1 END)
                 AS BIGINT) AS n_excluded FROM v),
         sp AS (SELECT CAST(d.d AS INTEGER) AS digit
                FROM UNNEST(range(1, 10)) d(d)),
         j AS (SELECT sp.digit, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
               FROM sp LEFT JOIN c ON sp.digit = c.digit),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM j)
         SELECT digit, n,
           CAST(CASE WHEN n_total > 0 THEN (n * 1000000) // n_total
             ELSE 0 END AS BIGINT) AS obs_ppm,
           CAST(CASE digit $expCase END AS BIGINT) AS exp_ppm,
           CAST(CASE WHEN n_total > 0 THEN (n * 1000000) // n_total
             ELSE 0 END - CASE digit $expCase END AS BIGINT) AS dev_ppm,
           n_total, n_excluded
         FROM j CROSS JOIN t CROSS JOIN ex"""
    },
    // q223: the doubled-midrank Mann-Whitney replay in HUGEINT.
    "q223_auc_exact" ->
      """WITH d AS (SELECT n_chars AS s,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS l
           FROM documents),
         g AS (SELECT s, COUNT(*) AS cnt, SUM(l) AS pos FROM d GROUP BY 1),
         r AS (SELECT *, COALESCE(SUM(cnt) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS bef FROM g),
         a AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(cnt - pos) AS BIGINT) AS n_neg,
             SUM(CAST(pos AS HUGEINT) * (2 * bef + cnt + 1)) AS rank2
           FROM r)
         SELECT n_pos, n_neg,
           CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             (rank2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000 //
               (2 * CAST(n_pos AS HUGEINT) * n_neg) END AS BIGINT)
             AS auc_ppm,
           CAST(2 * (CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             (rank2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000 //
               (2 * CAST(n_pos AS HUGEINT) * n_neg) END) - 1000000
             AS BIGINT) AS gini_ppm
         FROM a""",
    "q61_mixture_sample" ->
      """SELECT doc_id, lang, rate_pct FROM (
           SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN 80 ELSE 50 END AS rate_pct,
             CAST(('0x' || substr(md5('mix-' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
           FROM documents)
         WHERE b < rate_pct""",
    // q66: string shingle sets are set-equivalent to the Spark side's
    // xxhash64'd shingles (q24 relies on the same equivalence); docs with
    // fewer than 3 tokens keep a 0-shingle row on both sides.
    "q66_decontaminate" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
                FROM docs, UNNEST(range(1, len(w) - 1)) t(i)),
         sizes AS (SELECT d.doc_id, COALESCE(c.n, 0) AS n
                   FROM docs d LEFT JOIN
                     (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id) c
                     USING (doc_id)
                   WHERE d.doc_id % 5 != 0),
         pset AS (SELECT DISTINCT s FROM sh WHERE doc_id % 5 = 0),
         shared AS (SELECT doc_id, COUNT(*) AS n_shared
                    FROM sh JOIN pset USING (s)
                    WHERE doc_id % 5 != 0 GROUP BY doc_id)
         SELECT z.doc_id, CAST(z.n AS INTEGER) AS n_shingles,
           COALESCE(h.n_shared, 0) AS n_shared
         FROM sizes z LEFT JOIN shared h USING (doc_id)""",
    "q67_pii_redact" ->
      """SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
             text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
               || '.7 acct ' || CAST(doc_id * 137 + 12345678 AS VARCHAR),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
             '[0-9]{8,}', '<NUM>', 'g') AS clean
         FROM documents""",
    "q68_top_ngrams" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
                FROM docs, UNNEST(range(1, len(w) - 1)) t(i))
         SELECT s AS ngram, COUNT(*) AS n_docs FROM sh GROUP BY s
         ORDER BY n_docs DESC, ngram LIMIT 50""",
    // q69: N and avgdl are scalar subqueries over the same corpus; the
    // contribution expression is the same IEEE tree as the Spark side,
    // per-term sums are added in literal query order, round(_,3) absorbs
    // ln() ULP differences.
    "q69_bm25_topk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         base AS (SELECT doc_id, len(w) AS dl, w FROM d),
         g AS (SELECT COUNT(*) AS n, SUM(dl) AS tot FROM base),
         tf AS (SELECT doc_id, dl, t.term, COUNT(*) AS tf
                FROM base, UNNEST(w) t(term)
                WHERE t.term IN ('spark', 'data', 'pipeline')
                GROUP BY doc_id, dl, t.term),
         dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         c AS (SELECT doc_id, term,
                 ln(1.0 + (CAST((SELECT n FROM g) AS DOUBLE) - df + 0.5) / (df + 0.5))
                   * (tf * (1.2 + 1.0))
                   / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl /
                       (SELECT CAST(tot AS DOUBLE) / n FROM g))) AS c
               FROM tf JOIN dfx USING (term)),
         s AS (SELECT doc_id,
                 SUM(CASE WHEN term = 'spark' THEN c END) AS c1,
                 SUM(CASE WHEN term = 'data' THEN c END) AS c2,
                 SUM(CASE WHEN term = 'pipeline' THEN c END) AS c3
               FROM c GROUP BY doc_id)
         SELECT doc_id,
           round(COALESCE(c1, 0) + COALESCE(c2, 0) + COALESCE(c3, 0), 3) AS score
         FROM s ORDER BY score DESC, doc_id LIMIT 20""",
    // q63: the oracle knows only the generation parameters — dims from
    // doc_id, two checkerboard colors from modular products, and the count
    // of (x+y)-even cells (w·h + (w%2)·(h%2)) // 2 — and must match what
    // the real PNG encode/decode round-trip produced pixel-exactly.
    "q63_image_decode" ->
      """WITH p AS (SELECT doc_id,
             8 + doc_id % 40 AS w, 8 + doc_id % 23 AS h,
             (doc_id*7) % 256 AS r1, (doc_id*11) % 256 AS g1, (doc_id*13) % 256 AS b1,
             (doc_id*17) % 256 AS r2, (doc_id*19) % 256 AS g2, (doc_id*23) % 256 AS b2
           FROM documents),
         q AS (SELECT *, w*h AS np, (w*h + (w%2)*(h%2)) // 2 AS ne FROM p)
         SELECT doc_id AS media_id, CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height, np AS n_pixels,
           ne*r1 + (np-ne)*r2 AS sum_r,
           ne*g1 + (np-ne)*g2 AS sum_g,
           ne*b1 + (np-ne)*b2 AS sum_b
         FROM q""",
    // q65: WAV fixture is 64 + (doc_id % 64) samples of
    // ((doc_id·31 + i·7) % 2003) − 1001 at 8 kHz; the decode must
    // reproduce the header and the exact sample sum.
    "q65_audio_decode" ->
      """WITH p AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
         s AS (SELECT doc_id, n, ((doc_id*31 + t.i*7) % 2003) - 1001 AS smp
               FROM p, UNNEST(range(0, n)) t(i))
         SELECT doc_id AS media_id, CAST(8000 AS INTEGER) AS sample_rate,
           n AS n_frames, CAST(SUM(smp) AS BIGINT) AS sum_samples
         FROM s GROUP BY doc_id, n""",
    "q64_session_rollup" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS event_ts_us FROM events),
         l AS (SELECT *, lag(event_ts_us) OVER (
                 PARTITION BY user_id ORDER BY event_ts_us, event_id) AS prev_us
               FROM e),
         sess AS (SELECT user_id, event_id, event_ts_us,
                CAST(SUM(CASE WHEN prev_us IS NULL
                               OR event_ts_us - prev_us > 1800000000
                              THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY event_ts_us, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
              FROM l)
         SELECT user_id, session_seq,
           MIN(event_ts_us) AS session_start,
           MAX(event_ts_us) AS session_end,
           MAX(event_ts_us) - MIN(event_ts_us) AS session_duration,
           COUNT(*) AS n_events
         FROM sess GROUP BY user_id, session_seq""",
    // q62: position = (n*p + 99) // 100 — exact integer ceil(n*p/100), no
    // float multiply that could land either side of an integer boundary.
    "q62_group_percentiles" ->
      """WITH e AS (SELECT event_type, value, event_id FROM events
                    WHERE value IS NOT NULL),
         r AS (SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY value, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
               FROM e)
         SELECT event_type,
           MAX(CASE WHEN rn = (n * 25 + 99) // 100 THEN value END) AS p25,
           MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50,
           MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN value END) AS p90
         FROM r GROUP BY event_type""",
    // q70: exact Jaccard from posting-list co-occurrence — the oracle is
    // the textbook inverted-index formulation over STRING 2-gram shingles
    // (set-equivalent to the engine's hashed shingles); i/(na+nb-i) is
    // one exact IEEE divide on both engines, so jaccard hash-matches.
    "q70_jaccard_neardup" -> jaccardPairsOracle,
    // q77: SAME oracle — the prefix-filtered AllPairs plan must produce
    // the identical exact result.
    "q77_jaccard_prefix" -> jaccardPairsOracle,
    "q90_vocab_build" ->
      """WITH t AS (SELECT u.w FROM (
             SELECT string_split(text, ' ') AS ws FROM documents),
             UNNEST(ws) u(w)),
         c AS (SELECT w AS token, COUNT(*) AS n FROM t GROUP BY w
               HAVING COUNT(*) >= 3)
         SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER)
           AS token_id, token, n
         FROM c""",
    "q91_value_bounds" ->
      """SELECT event_id, user_id, epoch_us(ts) AS event_ts_us,
           first_value(value) OVER w AS first_value,
           last_value(value) OVER w AS last_value,
           nth_value(value, 2) OVER w AS second_value
         FROM events
         WHERE event_type = 'purchase' AND user_id IS NOT NULL
           AND value IS NOT NULL
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    "q92_dense_grid" ->
      s"""WITH e AS (SELECT epoch_us(ts) AS t, event_type FROM events
                    WHERE ts IS NOT NULL),
         lim AS (SELECT MIN((t // 60000000) * 60000000) AS lo,
                        MAX((t // 60000000) * 60000000) AS hi FROM e),
         spine AS (SELECT UNNEST(range(lo, hi + 60000000, 60000000))
                     AS minute_us FROM lim),
         types AS (SELECT UNNEST([${eventTypes.map(t => s"'$t'").mkString(",")}])
                     AS event_type),
         actual AS (SELECT (t // 60000000) * 60000000 AS minute_us,
                      event_type, COUNT(*) AS n
                    FROM e GROUP BY 1, 2)
         SELECT s.minute_us, ty.event_type, COALESCE(a.n, 0) AS n_events
         FROM spine s CROSS JOIN types ty
         LEFT JOIN actual a ON a.minute_us = s.minute_us
           AND a.event_type = ty.event_type""",
    // q93: 0-based target t = p*(n-1): lo row t//100 (+1 for row_number),
    // interpolation lo + (rem/100)*(hi-lo) — same exact-int split and
    // fixed-order double ops on both sides.
    "q93_percentiles_cont" ->
      """WITH e AS (SELECT event_type, value, event_id FROM events
                    WHERE value IS NOT NULL),
         r AS (SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY value, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
               FROM e),
         g AS (SELECT event_type,
                 MAX(CASE WHEN rn = (25 * (n-1)) // 100 + 1 THEN value END) AS lo25,
                 MAX(CASE WHEN rn = LEAST((25 * (n-1)) // 100 + 2, n) THEN value END) AS hi25,
                 MAX((25 * (n-1)) % 100) AS rem25,
                 MAX(CASE WHEN rn = (50 * (n-1)) // 100 + 1 THEN value END) AS lo50,
                 MAX(CASE WHEN rn = LEAST((50 * (n-1)) // 100 + 2, n) THEN value END) AS hi50,
                 MAX((50 * (n-1)) % 100) AS rem50,
                 MAX(CASE WHEN rn = (90 * (n-1)) // 100 + 1 THEN value END) AS lo90,
                 MAX(CASE WHEN rn = LEAST((90 * (n-1)) // 100 + 2, n) THEN value END) AS hi90,
                 MAX((90 * (n-1)) % 100) AS rem90
               FROM r GROUP BY event_type)
         SELECT event_type,
           lo25 + (rem25 / 100.0) * (hi25 - lo25) AS p25,
           lo50 + (rem50 / 100.0) * (hi50 - lo50) AS p50,
           lo90 + (rem90 / 100.0) * (hi90 - lo90) AS p90
         FROM g""",
    // q88: the two epoch-aligned window starts per event regenerated
    // arithmetically; money sum is the q07 recipe.
    "q88_hopping_gmv" ->
      """WITH p AS (SELECT epoch_us(ts) AS t, value FROM events
                    WHERE event_type = 'purchase' AND ts IS NOT NULL),
         w AS (SELECT (t // 300000000 - o.o) * 300000000 AS ws, value
               FROM p, UNNEST([0, 1]) o(o))
         SELECT ws AS window_start_us,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS gmv,
           COUNT(*) AS paid_orders
         FROM w GROUP BY ws""",
    "q89_value_tiles" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(ntile(10) OVER w AS INTEGER) AS decile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment
           ORDER BY c_acctbal DESC, c_custkey)""",
    "q86_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events
                    WHERE user_id IS NOT NULL),
         s1 AS (SELECT user_id, MIN(t) AS t1 FROM e
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, s1.t1, MIN(e.t) AS tt FROM e
                JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.t >= s1.t1
                  AND e.t <= s1.t1 + 86400000000
                GROUP BY e.user_id, s1.t1),
         s3 AS (SELECT e.user_id, s2.t1, MIN(e.t) AS tt FROM e
                JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.t >= s2.tt
                  AND e.t <= s2.t1 + 86400000000
                GROUP BY e.user_id, s2.t1)
         SELECT CAST(1 AS INTEGER) AS stage_idx, 'view' AS stage,
                COUNT(*) AS n_users FROM s1
         UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
         UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3""",
    "q87_cohort_retention" ->
      """WITH w AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk
                    FROM events WHERE user_id IS NOT NULL),
         c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM w GROUP BY user_id)
         SELECT cohort_wk, wk - cohort_wk AS weeks_since,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         FROM w JOIN c USING (user_id) GROUP BY 1, 2""",
    // q84: ln() ULP differences are absorbed by the 1e-6 fixed-point
    // floor (a boundary hit needs the product within ~1 ULP of an
    // integer); sums are exact longs after that.
    "q84_unigram_logprob" ->
      """WITH t AS (SELECT doc_id, u.w FROM (
             SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             UNNEST(ws) u(w)),
         g AS (SELECT COUNT(*) AS total FROM t),
         c AS (SELECT w, COUNT(*) AS n_w FROM t GROUP BY w)
         SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CAST(FLOOR(ln(CAST(n_w AS DOUBLE)
             / (SELECT CAST(total AS DOUBLE) FROM g)) * 1000000.0)
             AS BIGINT)) AS BIGINT) AS logprob_fp,
           (CAST(SUM(CAST(FLOOR(ln(CAST(n_w AS DOUBLE)
             / (SELECT CAST(total AS DOUBLE) FROM g)) * 1000000.0)
             AS BIGINT)) AS BIGINT) / 1000000.0) / COUNT(*) AS avg_logprob
         FROM t JOIN c USING (w) GROUP BY doc_id""",
    "q85_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
         gr AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g, COUNT(*) AS c
                FROM d, UNNEST(range(1, len(w))) t(i) GROUP BY doc_id, g)
         SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(MAX(c) AS BIGINT) AS top_count,
           MAX(c) / CAST(SUM(c) AS BIGINT) AS rep_ratio
         FROM gr GROUP BY doc_id""",
    // q82/q83: PQ codebook component (m,k,d) = md5-unit('pq-m-k-d') — the
    // q51 recipe; squared-L2 per subspace is a left-to-right fold of
    // singly-rounded (x-c)*(x-c) terms, so dist/code/adist all hash-match.
    "q82_pq_codes" ->
      """WITH d AS (SELECT vec_id, m.m AS m, k.k AS k,
             list_reduce(list_transform(range(0, 8), d ->
               (CAST(embedding[m.m * 8 + d + 1] AS DOUBLE)
                 - ((CAST(('0x' || substr(md5('pq-' || m.m || '-' || k.k || '-' || d), 1, 15)) AS BIGINT) % 2000003) / 1000001.5 - 1.0))
               * (CAST(embedding[m.m * 8 + d + 1] AS DOUBLE)
                 - ((CAST(('0x' || substr(md5('pq-' || m.m || '-' || k.k || '-' || d), 1, 15)) AS BIGINT) % 2000003) / 1000001.5 - 1.0))),
               (a, v) -> a + v) AS dist
           FROM embeddings, UNNEST(range(0, 8)) m(m), UNNEST(range(0, 8)) k(k))
         SELECT vec_id, CAST(m AS INTEGER) AS m, CAST(k AS INTEGER) AS code, dist
         FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                 ORDER BY dist, k) AS rn FROM d)
         WHERE rn = 1""",
    "q83_pq_adc_topk" ->
      """WITH d AS (SELECT vec_id, m.m AS m, k.k AS k,
             list_reduce(list_transform(range(0, 8), d ->
               (CAST(embedding[m.m * 8 + d + 1] AS DOUBLE)
                 - ((CAST(('0x' || substr(md5('pq-' || m.m || '-' || k.k || '-' || d), 1, 15)) AS BIGINT) % 2000003) / 1000001.5 - 1.0))
               * (CAST(embedding[m.m * 8 + d + 1] AS DOUBLE)
                 - ((CAST(('0x' || substr(md5('pq-' || m.m || '-' || k.k || '-' || d), 1, 15)) AS BIGINT) % 2000003) / 1000001.5 - 1.0))),
               (a, v) -> a + v) AS dist
           FROM embeddings, UNNEST(range(0, 8)) m(m), UNNEST(range(0, 8)) k(k)),
         best AS (SELECT vec_id, m, k AS code FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id, m
               ORDER BY dist, k) AS rn FROM d) WHERE rn = 1),
         codes AS (SELECT vec_id AS neighbor_id, list(code ORDER BY m) AS cs
                   FROM best WHERE vec_id >= 10 GROUP BY vec_id),
         lut AS (SELECT vec_id AS query_id, list(dl ORDER BY m) AS ls FROM (
                   SELECT vec_id, m, list(dist ORDER BY k) AS dl
                   FROM d WHERE vec_id < 10 GROUP BY vec_id, m)
                 GROUP BY vec_id),
         sc AS (SELECT query_id, neighbor_id,
                  list_reduce(list_transform(range(0, 8),
                    i -> ls[i + 1][cs[i + 1] + 1]), (a, v) -> a + v) AS adist
                FROM lut, codes)
         SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, adist
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY adist, neighbor_id) AS rank FROM sc)
         WHERE rank <= 5""",
    "q80_full_outer" ->
      """WITH l AS (SELECT c_custkey, c_name FROM customer
                    WHERE c_custkey % 3 <> 0),
         r AS (SELECT o_custkey, COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_spend
               FROM orders WHERE o_custkey % 2 = 0 GROUP BY o_custkey)
         SELECT l.c_custkey, l.c_name, r.o_custkey, r.n_orders, r.total_spend
         FROM l FULL OUTER JOIN r ON l.c_custkey = r.o_custkey""",
    // q81: GROUPING() bitmask uses the same first-arg-highest-bit
    // convention in both engines.
    "q81_status_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_spend
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
    // q78: same alternation-free character-class regex in both engines;
    // DuckDB needs the 'g' flag for global replacement.
    "q78_normalize" ->
      """WITH n AS (SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
               AS norm_text
           FROM documents)
         SELECT doc_id, norm_text, md5(norm_text) AS norm_hash,
           CAST(CASE WHEN norm_text = '' THEN 0
                ELSE len(string_split(norm_text, ' ')) END AS INTEGER)
             AS n_tokens
         FROM n""",
    // q79: the bit-interleave expression is GENERATED from the same
    // helper as the Spark column — one source of truth for the gate.
    "q79_zorder_key" ->
      s"""SELECT c_custkey, c_nationkey,
         ${graft.lake.Layout.mortonOracleSql(
        "c_custkey % 65536", "c_nationkey % 65536", 16)} AS zkey
         FROM customer""",
    // q71/q72: cosine is the q25 bit-stable fold; assignment ties break
    // on smallest centroid id in both engines (greatest-struct on
    // (cosine, -id) ≡ row_number ORDER BY cosine DESC, cid ASC).
    "q71_kmeans_assign" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         s AS (SELECT e.vec_id, c.cid,
                 list_reduce(list_transform(list_zip(e.embedding, c.ce),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
                 / (sqrt(list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))
                  * sqrt(list_reduce(list_transform(c.ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))) AS cosine
               FROM embeddings e, c)
         SELECT vec_id, cid AS centroid_id, cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY cosine DESC, cid) AS rn FROM s) WHERE rn = 1""",
    // q72: fixed-point member sums per (centroid, dim) — floor to long is
    // tie-free and long sums are order-independent, so the hash matches
    // under any Spark partitioning.
    "q72_kmeans_update" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         s AS (SELECT e.vec_id, c.cid, e.embedding,
                 list_reduce(list_transform(list_zip(e.embedding, c.ce),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
                 / (sqrt(list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))
                  * sqrt(list_reduce(list_transform(c.ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))) AS cosine
               FROM embeddings e, c),
         a AS (SELECT vec_id, cid AS centroid_id, embedding FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY cosine DESC, cid) AS rn FROM s) WHERE rn = 1),
         d AS (SELECT centroid_id, CAST(t.i AS INTEGER) AS pos,
                 embedding[t.i + 1] AS v
               FROM a, UNNEST(range(0, len(embedding))) t(i))
         SELECT centroid_id, pos,
           CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)) AS BIGINT) AS dim_sum_fp,
           COUNT(*) AS n
         FROM d GROUP BY centroid_id, pos""",
    // q73: identical op order to the Spark side — clamp, (x-lo)/(hi-lo)
    // *256 floor-capped, midpoint dequant — each step one IEEE double op.
    "q73_quantize_int8" ->
      """WITH d AS (SELECT vec_id, CAST(t.i AS INTEGER) AS pos,
                      CAST(embedding[t.i + 1] AS DOUBLE) AS v
                    FROM embeddings, UNNEST(range(0, len(embedding))) t(i)),
         c AS (SELECT vec_id, pos, v,
                 CAST(LEAST(FLOOR((LEAST(GREATEST(v, -1.0), 1.0) - -1.0)
                   / 2.0 * 256.0), 255) AS INTEGER) AS code
               FROM d)
         SELECT vec_id, pos, code,
           ABS(v - (-1.0 + (code + 0.5) * 2.0 / 256.0)) AS err
         FROM c""",
    // q74: RANGE frame over integer epoch-days; frames include ORDER BY
    // peers, so same-day orders agree and no tiebreaker is needed.
    "q74_trailing_spend" ->
      """SELECT o_orderkey, o_custkey,
           epoch_us(o_orderdate) // 86400000000 AS order_day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY epoch_us(o_orderdate) // 86400000000
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS trailing_spend
         FROM orders""",
    // q75: q54 mirrored — >= predicate, ASC ordering = smallest
    // (ts, click_id) at-or-after each purchase.
    "q75_asof_forward" ->
      """WITH p AS (SELECT DISTINCT user_id, epoch_us(ts) AS purchase_ts_us,
               event_id AS purchase_id
             FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         c AS (SELECT DISTINCT user_id, epoch_us(ts) AS click_ts_us,
               event_id AS click_id
             FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
         j AS (SELECT p.user_id, p.purchase_ts_us, p.purchase_id,
                 c.click_id, c.click_ts_us,
                 row_number() OVER (
                   PARTITION BY p.user_id, p.purchase_ts_us, p.purchase_id
                   ORDER BY c.click_ts_us ASC, c.click_id ASC) AS rn
               FROM p LEFT JOIN c ON c.user_id = p.user_id
                 AND c.click_ts_us >= p.purchase_ts_us)
         SELECT user_id, purchase_ts_us, purchase_id, click_id, click_ts_us,
           click_ts_us - purchase_ts_us AS us_until_click
         FROM j WHERE rn = 1""",
    // q76: the backward and forward rn=1 candidates computed separately,
    // then the closer one wins — backward on exact-distance ties, the
    // same rule the Spark operator applies.
    "q76_asof_nearest" ->
      """WITH p AS (SELECT DISTINCT user_id, epoch_us(ts) AS purchase_ts_us,
               event_id AS purchase_id
             FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         c AS (SELECT DISTINCT user_id, epoch_us(ts) AS click_ts_us,
               event_id AS click_id
             FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
         jb AS (SELECT * FROM (
                 SELECT p.user_id, p.purchase_ts_us, p.purchase_id,
                   c.click_id AS b_id, c.click_ts_us AS b_ts,
                   row_number() OVER (
                     PARTITION BY p.user_id, p.purchase_ts_us, p.purchase_id
                     ORDER BY c.click_ts_us DESC, c.click_id DESC) AS rn
                 FROM p JOIN c ON c.user_id = p.user_id
                   AND c.click_ts_us <= p.purchase_ts_us) WHERE rn = 1),
         jf AS (SELECT * FROM (
                 SELECT p.user_id, p.purchase_ts_us, p.purchase_id,
                   c.click_id AS f_id, c.click_ts_us AS f_ts,
                   row_number() OVER (
                     PARTITION BY p.user_id, p.purchase_ts_us, p.purchase_id
                     ORDER BY c.click_ts_us ASC, c.click_id ASC) AS rn
                 FROM p JOIN c ON c.user_id = p.user_id
                   AND c.click_ts_us >= p.purchase_ts_us) WHERE rn = 1),
         m AS (SELECT p.user_id, p.purchase_ts_us, p.purchase_id,
                 jb.b_id, jb.b_ts, jf.f_id, jf.f_ts
               FROM p
               LEFT JOIN jb USING (user_id, purchase_ts_us, purchase_id)
               LEFT JOIN jf USING (user_id, purchase_ts_us, purchase_id))
         SELECT user_id, purchase_ts_us, purchase_id,
           CASE WHEN f_ts IS NULL THEN b_id WHEN b_ts IS NULL THEN f_id
                WHEN purchase_ts_us - b_ts <= f_ts - purchase_ts_us
                THEN b_id ELSE f_id END AS click_id,
           CASE WHEN f_ts IS NULL THEN b_ts WHEN b_ts IS NULL THEN f_ts
                WHEN purchase_ts_us - b_ts <= f_ts - purchase_ts_us
                THEN b_ts ELSE f_ts END AS click_ts_us,
           CASE WHEN f_ts IS NULL THEN b_ts WHEN b_ts IS NULL THEN f_ts
                WHEN purchase_ts_us - b_ts <= f_ts - purchase_ts_us
                THEN b_ts ELSE f_ts END - purchase_ts_us AS us_to_click
         FROM m""",
    // q94: the 3 damped hops unrolled as CTEs — pure integer arithmetic
    // (base = 15·1e12/100; contrib = rank // outdeg; next = base +
    // 85·Σcontrib // 100), non-negative throughout, so DuckDB's flooring
    // `//` replays Spark's truncating `div` exactly. LEFT JOIN keeps
    // sink-only/source-only nodes at the base rank.
    "q94_pagerank" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
         e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
               FROM li a JOIN li b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
         n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank_fp FROM n),
         r1 AS (SELECT n.node,
                  CAST(150000000000 + (85 * COALESCE(m.s, 0)) // 100 AS BIGINT) AS rank_fp
                FROM n LEFT JOIN (
                  SELECT e.dst AS node, SUM(r.rank_fp // d.deg) AS s
                  FROM r0 r JOIN e ON e.src = r.node JOIN deg d ON d.src = e.src
                  GROUP BY e.dst) m USING (node)),
         r2 AS (SELECT n.node,
                  CAST(150000000000 + (85 * COALESCE(m.s, 0)) // 100 AS BIGINT) AS rank_fp
                FROM n LEFT JOIN (
                  SELECT e.dst AS node, SUM(r.rank_fp // d.deg) AS s
                  FROM r1 r JOIN e ON e.src = r.node JOIN deg d ON d.src = e.src
                  GROUP BY e.dst) m USING (node)),
         r3 AS (SELECT n.node,
                  CAST(150000000000 + (85 * COALESCE(m.s, 0)) // 100 AS BIGINT) AS rank_fp
                FROM n LEFT JOIN (
                  SELECT e.dst AS node, SUM(r.rank_fp // d.deg) AS s
                  FROM r2 r JOIN e ON e.src = r.node JOIN deg d ON d.src = e.src
                  GROUP BY e.dst) m USING (node))
         SELECT node, rank_fp FROM r3""",
    // q95: q50's simhash pair graph + q60's recursive-CTE reachability,
    // composed: losers = nodes whose component label differs from
    // themselves; survivors = documents anti-joined against the losers.
    "q95_keep_canonical" ->
      """WITH RECURSIVE tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM tok),
         bits AS (SELECT doc_id, b, SUM(2 * ((h >> b) & 1) - 1) AS s
                  FROM h, UNNEST(range(0, 60)) t(b) GROUP BY 1, 2),
         sh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
           FROM bits GROUP BY doc_id),
         pairs AS (SELECT x.doc_id AS pa, y.doc_id AS pb
                   FROM sh x JOIN sh y ON x.doc_id < y.doc_id
                   WHERE bit_count(xor(x.simhash, y.simhash)) <= 3),
         e AS (SELECT pa AS src, pb AS dst FROM pairs
               UNION ALL SELECT pb, pa FROM pairs),
         n AS (SELECT DISTINCT src AS node FROM e),
         reach(node, lab) AS (
           SELECT node, node FROM n
           UNION
           SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node),
         comp AS (SELECT node, MIN(lab) AS component FROM reach GROUP BY node),
         losers AS (SELECT node FROM comp WHERE node <> component)
         SELECT d.doc_id, d.lang, d.n_chars FROM documents d
         LEFT JOIN losers l ON d.doc_id = l.node
         WHERE l.node IS NULL""",
    // q96: window starts are 1, 1+step, … while start <= max(1, n−overlap)
    // (step = chunk − overlap = 5); DuckDB's exclusive range() gets +1 on
    // the stop, list slice w[a:b] is inclusive like Spark's slice(w, a, 8).
    "q96_chunk_tokens" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         s AS (SELECT doc_id, w, len(w) AS n FROM docs),
         c AS (SELECT doc_id, w, n,
                 unnest(range(1, greatest(1, n - 3) + 1, 5)) AS chunk_start
               FROM s)
         SELECT doc_id,
           CAST((chunk_start - 1) // 5 AS BIGINT) AS chunk_idx,
           CAST(chunk_start AS INTEGER) AS chunk_start,
           CAST(LEAST(8, n - chunk_start + 1) AS INTEGER) AS n_chunk_tokens,
           array_to_string(w[chunk_start:chunk_start + 7], ' ') AS chunk_text
         FROM c""",
    // q97: 10-token zero-overlap chunks; corpus-wide keep-first by
    // (doc_id, chunk_start) over exact chunk text; reassembly =
    // string_agg ordered by chunk_start (unique per doc, deterministic);
    // docs whose every chunk was seen earlier come back empty with
    // n_kept = 0, preserving corpus row count.
    "q97_chunk_dedup" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         s AS (SELECT doc_id, w, len(w) AS n FROM docs),
         c AS (SELECT doc_id, n,
                 unnest(range(1, greatest(1, n) + 1, 10)) AS cs,
                 w FROM s),
         ch AS (SELECT doc_id, n, cs,
                  array_to_string(w[cs:cs + 9], ' ') AS chunk_text
                FROM c),
         k AS (SELECT doc_id, cs, chunk_text,
                 row_number() OVER (PARTITION BY chunk_text
                   ORDER BY doc_id, cs) AS rn
               FROM ch),
         kept AS (SELECT doc_id,
                    string_agg(chunk_text, ' ' ORDER BY cs) AS clean_text,
                    COUNT(*) AS n_kept
                  FROM k WHERE rn = 1 GROUP BY doc_id)
         SELECT s.doc_id, COALESCE(kept.clean_text, '') AS clean_text,
           CAST(ceil(n / 10.0) AS BIGINT) AS n_chunks,
           COALESCE(kept.n_kept, 0) AS n_kept
         FROM s LEFT JOIN kept USING (doc_id)""",
    // q98: the oracle's single window IS the semantic definition (maximal
    // hash-order prefix with inclusive token cumsum <= budget); the Spark
    // side computes the same sum as a two-stage distributed prefix scan,
    // identical by associativity.
    "q98_token_budget" ->
      """WITH t AS (SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
             CAST(('0x' || substr(md5('bud-' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM documents),
         c AS (SELECT doc_id, lang, n_tokens,
             SUM(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY lang
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS budget_used
           FROM t)
         SELECT doc_id, lang, n_tokens, CAST(budget_used AS BIGINT) AS budget_used
         FROM c WHERE budget_used <= 2000""",
    // q99: change-detect lag, then lead/row_number over the surviving
    // change rows — same (ts, event_id) order everywhere; DuckDB
    // row_number is BIGINT, Spark's is INT, hence the cast. The change
    // predicate mirrors Spark's null-safe struct compare exactly:
    // rn = 1 opens version 1 unconditionally (lag-at-start is a NULL
    // struct, never <=> a real row), and IS DISTINCT FROM makes
    // null→value / value→null changes without dropping null-valued rows
    // (plain `<>` would). Test events carry no null event_type today, so
    // the hash is unchanged — but the oracle no longer depends on that.
    "q99_scd2_history" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
                    FROM events WHERE user_id IS NOT NULL),
         o AS (SELECT user_id, event_type, ts_us, event_id,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS prev,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS rn
               FROM e),
         ch AS (SELECT user_id, event_type, ts_us, event_id FROM o
                WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
         SELECT user_id, event_type,
           ts_us AS valid_from_us,
           lead(ts_us) OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id) AS valid_to_us,
           CAST(row_number() OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id) AS INTEGER) AS version,
           (lead(ts_us) OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id) IS NULL) AS is_current
         FROM ch""",
    // q100: HLL registers = (h & 31, max rho), rho = 56 − bitlen(h >> 5)
    // via the shared minimal-binary-string idiom (ltrim ∘ bin); estimate
    // = fixed-point alpha·m²/Z with Z scaled by 2^40 — all integers, so
    // `//` replays Spark's `div`. 785051302232064 = (7213·32³ //
    // 330790) · 2^40 = alpha_fp · 2^40.
    "q100_hll_distinct" ->
      """WITH h AS (SELECT o_orderstatus,
             CAST(('0x' || substr(md5('hll-' || CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM orders),
         r AS (SELECT o_orderstatus, h & 31 AS bucket,
                 MAX(56 - length(ltrim(bin(h >> 5), '0'))) AS max_rho
               FROM h GROUP BY 1, 2),
         g AS (SELECT o_orderstatus,
                 SUM(CAST(1099511627776 AS BIGINT) >> max_rho) AS present_sum,
                 COUNT(*) AS present
               FROM r GROUP BY 1)
         SELECT o_orderstatus,
           CAST(785051302232064 //
             greatest(present_sum + (32 - present) * 1099511627776, 1)
             AS BIGINT) AS est_distinct
         FROM g""",
    // q101: degree-ordered wedge join (orient each undirected edge from
    // lower to higher (deg, node); every triangle appears as exactly one
    // rank-ordered wedge plus its closing oriented edge).
    "q101_triangles" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
         und AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                   greatest(a.l_partkey, b.l_partkey) AS v
                 FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey <> b.l_partkey),
         deg AS (SELECT node, COUNT(*) AS deg FROM
                   (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
                 GROUP BY 1),
         adj AS (SELECT
                   CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
                        THEN und.u ELSE und.v END AS a,
                   CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
                        THEN und.v ELSE und.u END AS b,
                   CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
                        THEN dv.deg ELSE du.deg END AS db
                 FROM und
                 JOIN deg du ON du.node = und.u
                 JOIN deg dv ON dv.node = und.v),
         wed AS (SELECT e1.a, e1.b, e2.b AS c FROM adj e1 JOIN adj e2
                   ON e1.a = e2.a AND (e1.db, e1.b) < (e2.db, e2.b)),
         tri AS (SELECT w.a, w.b, w.c FROM wed w
                 JOIN adj e3 ON e3.a = w.b AND e3.b = w.c),
         cnt AS (SELECT node, COUNT(*) AS n_triangles FROM
                   (SELECT unnest([a, b, c]) AS node FROM tri)
                 GROUP BY 1)
         SELECT node, n_triangles FROM cnt
         ORDER BY n_triangles DESC, node LIMIT 100""",
    // q102: count-min cells are (row i, md5('cms-i-' || bigram) & 255)
    // per bigram OCCURRENCE; estimates take min over the 4 rows for each
    // distinct bigram; top-k by (est desc, token).
    "q102_cms_topk" ->
      """WITH docs AS (SELECT string_split(text, ' ') AS w FROM documents),
         tok AS (SELECT w[i] || ' ' || w[i+1] AS token
                 FROM docs, UNNEST(range(1, len(w))) t(i)),
         cells AS (SELECT token, t.i AS hash_row,
                     CAST(('0x' || substr(md5('cms-' || CAST(t.i AS VARCHAR) || '-' || token), 1, 15)) AS BIGINT) & 255 AS bucket
                   FROM tok, UNNEST(range(0, 4)) t(i)),
         sk AS (SELECT hash_row, bucket, COUNT(*) AS cnt
                FROM cells GROUP BY 1, 2),
         est AS (SELECT token, MIN(cnt) AS est_count
                 FROM (SELECT DISTINCT token, hash_row, bucket FROM cells) c
                 JOIN sk USING (hash_row, bucket)
                 GROUP BY token)
         SELECT token, est_count FROM est
         ORDER BY est_count DESC, token LIMIT 100""",
    // q103: Morton key from the shared expression template
    // (Layout.mortonOracleSql — single source of truth with the Spark
    // side), tile = top 8 of 16 key bits, stats per tile.
    "q103_zorder_manifest" ->
      s"""WITH z AS (SELECT
             ${graft.lake.Layout.mortonOracleSql(
               "l_partkey % 256", "l_suppkey % 256", 8)} AS zkey,
             l_partkey % 256 AS x, l_suppkey % 256 AS y
           FROM lineitem)
         SELECT zkey // 256 AS tile, COUNT(*) AS n_rows,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y
         FROM z GROUP BY 1""",
    // q104: q99's history CTEs + interval-containment join — half-open
    // [from, to) keeps the covering version unique.
    "q104_scd2_asof" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
                    FROM events WHERE user_id IS NOT NULL),
         o AS (SELECT user_id, event_type, ts_us, event_id,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS prev,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS rn
               FROM e),
         ch AS (SELECT user_id, event_type, ts_us, event_id FROM o
                WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
         v AS (SELECT user_id, event_type,
                 ts_us AS valid_from_us,
                 lead(ts_us) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS valid_to_us,
                 CAST(row_number() OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS INTEGER) AS version
               FROM ch),
         f AS (SELECT event_id, user_id, epoch_us(ts) AS event_ts_us
               FROM events
               WHERE event_type = 'purchase' AND user_id IS NOT NULL)
         SELECT f.event_id, f.user_id, f.event_ts_us,
           v.event_type, v.version
         FROM f LEFT JOIN v ON v.user_id = f.user_id
           AND f.event_ts_us >= v.valid_from_us
           AND (v.valid_to_us IS NULL OR f.event_ts_us < v.valid_to_us)""",
    // q105: the oracle is the full O(n²) distance matrix — deliberately
    // NOT the deletion-variant join, so a hash-match certifies the
    // SymSpell blocking is complete for d ≤ 1 (missed pair = missing
    // row = hash mismatch).
    "q105_fuzzy_pairs" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer)
         SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
         FROM c a JOIN c b ON a.id < b.id
         WHERE levenshtein(a.s, b.s) <= 1""",
    // q106: bloom bitmap as 32-bit words (non-negative shifts in both
    // engines), bit positions md5('bloom-i-' || key) & 16383; probe =
    // all 4 bits set, absent words count unset.
    "q106_bloom_filter" ->
      """WITH fk AS (SELECT DISTINCT o_custkey FROM orders
                     WHERE o_orderstatus = 'F'),
         pos AS (SELECT o_custkey,
                   CAST(('0x' || substr(md5('bloom-' || CAST(t.i AS VARCHAR) || '-' || CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) & 16383 AS p
                 FROM fk, UNNEST(range(0, 4)) t(i)),
         words AS (SELECT p >> 5 AS word_idx,
                     bit_or(CAST(1 AS BIGINT) << CAST(p & 31 AS INTEGER)) AS word
                   FROM pos GROUP BY 1),
         cpos AS (SELECT c_custkey,
                    CAST(('0x' || substr(md5('bloom-' || CAST(t.i AS VARCHAR) || '-' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) & 16383 AS p
                  FROM customer, UNNEST(range(0, 4)) t(i)),
         hits AS (SELECT c_custkey,
                    MIN(COALESCE((w.word >> CAST(p & 31 AS INTEGER)) & 1, 0)) AS allset
                  FROM cpos LEFT JOIN words w ON w.word_idx = p >> 5
                  GROUP BY 1)
         SELECT h.c_custkey, (h.allset = 1) AS bloom_hit,
           (f.o_custkey IS NOT NULL) AS actual
         FROM hits h LEFT JOIN fk f ON f.o_custkey = h.c_custkey""",
    // q107: priority = hash div weight; the two-stage salted top-k is
    // identical to this single window by construction.
    "q107_weighted_sample" ->
      """WITH t AS (SELECT doc_id, lang, n_chars,
             CAST(('0x' || substr(md5('wtd-' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               // greatest(CAST(n_chars AS BIGINT), 1) AS priority
           FROM documents),
         r AS (SELECT doc_id, lang, n_chars, priority,
                 CAST(row_number() OVER (PARTITION BY lang
                   ORDER BY priority, doc_id) AS INTEGER) AS rank
               FROM t)
         SELECT doc_id, lang, n_chars, priority, rank
         FROM r WHERE rank <= 20""",
    // q108: q42's pair CTEs (same buckets, same cosine tree, threshold
    // 0.3) + the q60/q95 recursive reachability, anti-joined.
    "q108_embedding_canonical" ->
      """WITH RECURSIVE b AS (
           SELECT vec_id, embedding, t.t,
             (SELECT SUM(CASE WHEN (
                 list_reduce(list_transform(embedding, (x, d) ->
                   CAST(x AS DOUBLE) * ((CAST(('0x' || substr(md5('hp-' || t.t || '-' || p.p || '-' || (d-1)), 1, 15)) AS BIGINT) % 2000003) / 1000001.5 - 1.0)),
                   (a, v) -> a + v)) > 0 THEN (1 << p.p) ELSE 0 END)
              FROM UNNEST(range(0, 4)) p(p)) AS bucket
           FROM embeddings, UNNEST(range(0, 3)) t(t)
         ),
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b,
             a.embedding AS ea, b2.embedding AS eb
           FROM b a JOIN b b2 ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         ),
         pairs AS (
           SELECT id_a, id_b FROM cand
           WHERE list_reduce(list_transform(list_zip(ea, eb), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
             / (sqrt(list_reduce(list_transform(ea, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))
              * sqrt(list_reduce(list_transform(eb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))) >= 0.3
         ),
         e AS (SELECT id_a AS src, id_b AS dst FROM pairs
               UNION ALL SELECT id_b, id_a FROM pairs),
         n AS (SELECT DISTINCT src AS node FROM e),
         reach(node, lab) AS (
           SELECT node, node FROM n
           UNION
           SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node),
         comp AS (SELECT node, MIN(lab) AS component FROM reach GROUP BY node),
         losers AS (SELECT node FROM comp WHERE node <> component)
         SELECT em.vec_id, em.label FROM embeddings em
         LEFT JOIN losers l ON em.vec_id = l.node
         WHERE l.node IS NULL""",
    // q109: the oracle is q99's FULL-STREAM rebuild — the Spark side
    // computes the same table incrementally (history before the cutoff,
    // applyChanges after), so a hash-match proves incremental ≡ batch.
    "q109_scd2_increment" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
                    FROM events WHERE user_id IS NOT NULL),
         o AS (SELECT user_id, event_type, ts_us, event_id,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS prev,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS rn
               FROM e),
         ch AS (SELECT user_id, event_type, ts_us, event_id FROM o
                WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
         SELECT user_id, event_type,
           ts_us AS valid_from_us,
           lead(ts_us) OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id) AS valid_to_us,
           CAST(row_number() OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id) AS INTEGER) AS version,
           (lead(ts_us) OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id) IS NULL) AS is_current
         FROM ch""",
    // q110: q70's intersection CTEs with the containment score
    // (n_shared / min set size) at threshold 0.8.
    "q110_containment" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                       WHERE len(string_split(text, ' ')) >= 2),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS s
                FROM docs, UNNEST(range(1, len(w))) t(i)),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT doc_a, doc_b, n_shared,
           n_shared / least(sa.n, sb.n) AS containment
         FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
         WHERE n_shared / least(sa.n, sb.n) >= 0.8""",
    // q111: 64 equal-width bins over cents ∈ [-100000, 1000000), edge
    // clamp; quantile bin = first with cumsum ≥ ceil(q·N/1000); bin
    // bounds re-derived with the same integer division.
    "q111_hist_quantiles" ->
      """WITH v AS (SELECT c_mktsegment,
             CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
         b AS (SELECT c_mktsegment,
             LEAST(GREATEST(((cents + 100000) * 64) // 1100000, 0), 63) AS bin
           FROM v),
         sk AS (SELECT c_mktsegment, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
         c AS (SELECT c_mktsegment, bin, cnt,
             SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY bin) AS cum,
             SUM(cnt) OVER (PARTITION BY c_mktsegment) AS n
           FROM sk),
         sel AS (SELECT c_mktsegment, t.q AS q_permille, MIN(bin) AS bin
                 FROM c, (VALUES (500), (950)) t(q)
                 WHERE cum >= (n * t.q + 999) // 1000
                 GROUP BY 1, 2)
         SELECT c_mktsegment, CAST(q_permille AS INTEGER) AS q_permille,
           CAST(bin AS BIGINT) AS bin,
           CAST(-100000 + (bin * 1100000) // 64 AS BIGINT) AS bin_lo,
           CAST(-100000 + ((bin + 1) * 1100000) // 64 AS BIGINT) AS bin_hi
         FROM sel""",
    // q112: lead over the same (ts, event_id) per-user order as q99; the
    // outflow normalizer re-derives from the matrix itself, and p is one
    // long/long→double division — bit-reproducible.
    "q112_event_transitions" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
                    FROM events WHERE user_id IS NOT NULL),
         o AS (SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS to_type
               FROM e),
         c AS (SELECT from_type, to_type, COUNT(*) AS n FROM o
               WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
           CAST(n AS DOUBLE) /
             CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p
         FROM c""",
    // q113: identical pinned double-op order as the Spark side — exact
    // HUGEINT sums of milli-quantized longs mirror Spark's DECIMAL(38,0)
    // sums (both exact, both cast to the same double), then
    // mean = Σq/n, var = (n·Σq² − Σq²)/(n·(n−1)), z = (q − mean)/√var.
    "q113_group_zscore" ->
      """WITH v AS (SELECT event_type, event_id, value,
                      CAST(FLOOR(value * 1000.0) AS BIGINT) AS q
                    FROM events WHERE value IS NOT NULL),
         st AS (SELECT event_type, COUNT(*) AS n, SUM(q) AS sx,
                  SUM(CAST(q AS HUGEINT) * q) AS sxx
                FROM v GROUP BY 1 HAVING COUNT(*) >= 2),
         sd AS (SELECT event_type,
                  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                  (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
                    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var
                FROM st),
         z AS (SELECT v.event_type, v.event_id, v.value,
                 (CAST(v.q AS DOUBLE) - mean) / sqrt(var) AS z
               FROM v JOIN sd USING (event_type) WHERE var > 0.0)
         SELECT event_type, event_id, value, z FROM z WHERE abs(z) >= 2.0""",
    // q114: last-in-bucket by (ts, event_id) DESC ≡ Spark's max-of-struct;
    // range(bkt, nxt) generates the observed bucket plus its gap tail
    // (range excludes the upper bound = the next observed bucket).
    "q114_ffill_resample" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
                    FROM events
                    WHERE user_id IS NOT NULL AND value IS NOT NULL),
         b AS (SELECT user_id, ts_us // 3600000000 AS bkt, ts_us, event_id,
                 value FROM e),
         o AS (SELECT user_id, bkt, value FROM (
                 SELECT user_id, bkt, value,
                   row_number() OVER (PARTITION BY user_id, bkt
                     ORDER BY ts_us DESC, event_id DESC) AS rn
                 FROM b) WHERE rn = 1),
         nx AS (SELECT user_id, bkt, value,
                  lead(bkt) OVER (PARTITION BY user_id ORDER BY bkt) AS nxt
                FROM o)
         SELECT user_id, CAST(t.i AS BIGINT) AS bucket, value,
           (t.i = bkt) AS observed
         FROM nx, UNNEST(range(bkt, COALESCE(nxt, bkt + 1))) t(i)""",
    // q115: q72's d-CTE over the whole table keyed by label; sums of
    // singly-floored fixed-point terms, mean with pinned op order.
    "q115_label_centroids" ->
      """WITH d AS (SELECT label, CAST(t.i AS INTEGER) AS pos,
                      CAST(embedding[t.i + 1] AS DOUBLE) AS v
                    FROM embeddings, UNNEST(range(0, len(embedding))) t(i)
                    WHERE label IS NOT NULL),
         s AS (SELECT label, pos,
                 CAST(SUM(CAST(FLOOR(v * 1048576.0) AS BIGINT)) AS BIGINT)
                   AS dim_sum_fp,
                 COUNT(*) AS n
               FROM d GROUP BY 1, 2)
         SELECT label, pos, dim_sum_fp, n,
           (CAST(dim_sum_fp AS DOUBLE) / 1048576.0) / CAST(n AS DOUBLE)
             AS dim_mean
         FROM s""",
    // q116: q84's floor(ln·10⁶) contract over bigrams; w1-prefix counts
    // and the vocabulary scalar mirror the Spark side's two count tables
    // and driver-collected V.
    "q116_bigram_logprob" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         b AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
               FROM w, UNNEST(range(1, len(ws))) t(i)),
         cb AS (SELECT w1, w2, COUNT(*) AS nbi FROM b GROUP BY 1, 2),
         cu AS (SELECT w1, COUNT(*) AS nuni FROM b GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT u.w) AS vs FROM
                 (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents) u),
         s AS (SELECT b.doc_id,
                 FLOOR(ln((CAST(nbi AS DOUBLE) + 1.0) /
                   (CAST(nuni AS DOUBLE) +
                     (SELECT CAST(vs AS DOUBLE) FROM v))) * 1000000.0) AS c
               FROM b JOIN cb USING (w1, w2) JOIN cu USING (w1))
         SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(CAST(c AS BIGINT)) AS BIGINT) AS logprob_fp,
           (CAST(SUM(CAST(c AS BIGINT)) AS BIGINT) / 1000000.0) / COUNT(*)
             AS avg_logprob
         FROM s GROUP BY doc_id""",
    // q117: the struct min/max over a RANGE frame replays Spark's staged
    // touch struct exactly — named-struct comparison is field-order
    // lexicographic on (ts, id, tp) in both engines, value-based frames
    // include equal-ts peers regardless of row order, and NULL stages
    // (non-touch rows) are invisible to min/max.
    "q117_touch_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
                    FROM events WHERE user_id IS NOT NULL),
         s AS (SELECT *, CASE WHEN event_type IN ('click', 'view')
                 THEN {'ts': ts_us, 'id': event_id, 'tp': event_type}
                 END AS touch
               FROM e),
         w AS (SELECT user_id, event_id, event_type, ts_us,
                 min(touch) OVER win AS f, max(touch) OVER win AS l
               FROM s
               WINDOW win AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 259200000000 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id AS conversion_id, ts_us AS conversion_ts_us,
           f.id AS first_touch_id, f.tp AS first_touch_type,
           ts_us - f.ts AS first_gap_us,
           l.id AS last_touch_id, l.tp AS last_touch_type,
           ts_us - l.ts AS last_gap_us
         FROM w WHERE event_type = 'purchase'""",
    // q118: the q60 reachability labeled, then sized, then histogrammed.
    "q118_component_sizes" -> (simhashComponentsCte + """,
         comp AS (SELECT node, MIN(lab) AS component_id
                  FROM reach GROUP BY node),
         cs AS (SELECT component_id, COUNT(*) AS size FROM comp GROUP BY 1)
         SELECT size, COUNT(*) AS n_components FROM cs GROUP BY size"""),
    // q119: q100's register/estimator integer replay with a day
    // dimension; each register row contributes to its 7 trailing target
    // days (range excludes the bound → exactly window targets), targets
    // restricted to observed days.
    "q119_rolling_distinct" ->
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS period, user_id
                    FROM events WHERE user_id IS NOT NULL),
         h AS (SELECT period,
                 CAST(('0x' || substr(md5('hll-' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
               FROM e),
         r AS (SELECT period, h & 31 AS bucket,
                 MAX(56 - length(ltrim(bin(h >> 5), '0'))) AS max_rho
               FROM h GROUP BY 1, 2),
         c AS (SELECT CAST(t.i AS BIGINT) AS period, bucket,
                 MAX(max_rho) AS max_rho
               FROM r, UNNEST(range(period, period + 7)) t(i) GROUP BY 1, 2),
         k AS (SELECT c.period, c.bucket, c.max_rho FROM c
               JOIN (SELECT DISTINCT period FROM r) d USING (period)),
         g AS (SELECT period,
                 SUM(CAST(1099511627776 AS BIGINT) >> max_rho) AS present_sum,
                 COUNT(*) AS present
               FROM k GROUP BY 1)
         SELECT period,
           CAST(785051302232064 //
             greatest(present_sum + (32 - present) * 1099511627776, 1)
             AS BIGINT) AS est_distinct
         FROM g""",
    // q120: both medians replayed by row_number at the q62 position
    // convention t = (n·50 + 99) // 100 (lower median); duplicate values
    // make the picked VALUE deterministic regardless of tie order.
    "q120_mad_outliers" ->
      """WITH v AS (SELECT event_type, event_id, value,
                      CAST(FLOOR(value * 1000.0) AS BIGINT) AS q
                    FROM events WHERE value IS NOT NULL),
         m AS (SELECT event_type, q AS med FROM (
                 SELECT event_type, q,
                   row_number() OVER (PARTITION BY event_type ORDER BY q) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
                 FROM v) WHERE rn = (n * 50 + 99) // 100),
         d AS (SELECT v.event_type, v.event_id, v.value,
                 abs(v.q - m.med) AS dev_fp
               FROM v JOIN m USING (event_type)),
         md AS (SELECT event_type, dev_fp AS mad_fp FROM (
                 SELECT event_type, dev_fp,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY dev_fp) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
                 FROM d) WHERE rn = (n * 50 + 99) // 100)
         SELECT d.event_type, d.event_id, d.value, d.dev_fp, md.mad_fp
         FROM d JOIN md USING (event_type)
         WHERE CAST(d.dev_fp AS DOUBLE) > 3.0 * CAST(md.mad_fp AS DOUBLE)""",
    // q121: q56's session derivation, session-distinct type sets, pair
    // counts vs marginals; ln through the floor(·10⁶) fixed-point gate.
    "q121_session_pmi" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
                    FROM events WHERE user_id IS NOT NULL),
         l AS (SELECT *, lag(ts_us) OVER (
                 PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
               FROM e),
         s AS (SELECT user_id, event_type,
                 SUM(CASE WHEN prev IS NULL OR ts_us - prev > 1800000000
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_seq
               FROM l),
         st AS (SELECT DISTINCT user_id, session_seq, event_type FROM s),
         ns AS (SELECT COUNT(*) AS n FROM
                  (SELECT DISTINCT user_id, session_seq FROM st)),
         sg AS (SELECT event_type, COUNT(*) AS n_a FROM st GROUP BY 1),
         pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                  COUNT(*) AS n_ab
                FROM st a JOIN st b ON a.user_id = b.user_id
                  AND a.session_seq = b.session_seq
                  AND a.event_type < b.event_type
                GROUP BY 1, 2)
         SELECT type_a, type_b, n_ab, sa.n_a, sb.n_a AS n_b,
           CAST(FLOOR(ln((CAST(n_ab AS DOUBLE) *
               (SELECT CAST(n AS DOUBLE) FROM ns)) /
             (CAST(sa.n_a AS DOUBLE) * CAST(sb.n_a AS DOUBLE)))
             * 1000000.0) AS BIGINT) AS pmi_fp
         FROM pr JOIN sg sa ON sa.event_type = type_a
           JOIN sg sb ON sb.event_type = type_b""",
    // q122: q56's session derivation + ordered string_agg; top-25 by
    // (count desc, path) — the path is its own unique tiebreaker.
    "q122_session_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
                    FROM events WHERE user_id IS NOT NULL),
         l AS (SELECT *, lag(ts_us) OVER (
                 PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
               FROM e),
         s AS (SELECT user_id, event_type, ts_us, event_id,
                 SUM(CASE WHEN prev IS NULL OR ts_us - prev > 1800000000
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_seq
               FROM l),
         p AS (SELECT user_id, session_seq,
                 string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
               FROM s GROUP BY 1, 2),
         c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1)
         SELECT path, n_sessions FROM c
         ORDER BY n_sessions DESC, path LIMIT 25""",
    // q123: q24's exact string-shingle Jaccard oracle restricted to
    // pairs touching the fresh batch (doc_id % 10 = 0), with the origin
    // flags the Spark side carries.
    "q123_incremental_dedup" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
                FROM docs, UNNEST(range(1, len(w) - 1)) t(i)),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT doc_a, doc_b, i / (sa.n + sb.n - i) AS jaccard,
           (doc_a % 10 = 0) AS a_new, (doc_b % 10 = 0) AS b_new
         FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
         WHERE i / (sa.n + sb.n - i) >= 0.8
           AND (doc_a % 10 = 0 OR doc_b % 10 = 0)""",
    // q124: generated unrolled replay of the greedy-left BPE trainer —
    // see bpeOracleSql.
    "q124_bpe_merges" -> bpeOracleSql(3),
    // q126: the same generated stages, final symbol table exploded into
    // frequency-weighted subword counts.
    "q126_bpe_vocab" -> bpeOracleSql(3, Some(
      """, x AS (SELECT unnest(sym) AS symbol, f FROM s3)
         SELECT symbol, CAST(SUM(f) AS BIGINT) AS n_occurrences
         FROM x GROUP BY symbol""")),
    // q127: q54's oracle with the backward window bounded at 1 hour —
    // for backward as-of, older candidates are farther, so bounding the
    // join IS the drop-beyond-tolerance semantics.
    "q127_asof_tolerance" ->
      """WITH p AS (SELECT DISTINCT user_id, epoch_us(ts) AS purchase_ts_us,
               event_id AS purchase_id
             FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         c AS (SELECT DISTINCT user_id, epoch_us(ts) AS click_ts_us,
               event_id AS click_id
             FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
         j AS (SELECT p.user_id, p.purchase_ts_us, p.purchase_id,
                 c.click_id, c.click_ts_us,
                 row_number() OVER (
                   PARTITION BY p.user_id, p.purchase_ts_us, p.purchase_id
                   ORDER BY c.click_ts_us DESC, c.click_id DESC) AS rn
               FROM p LEFT JOIN c ON c.user_id = p.user_id
                 AND c.click_ts_us <= p.purchase_ts_us
                 AND c.click_ts_us >= p.purchase_ts_us - 3600000000)
         SELECT user_id, purchase_ts_us, purchase_id, click_id, click_ts_us,
           purchase_ts_us - click_ts_us AS us_since_click
         FROM j WHERE rn = 1""",
    // q128: the two committed snapshot states replayed relationally —
    // v1 = latest-wins dedup of batch 1 (first merge into an empty
    // table), v2 = q10's MERGE of batch 2 into v1 (source precedence:
    // NOT IN + UNION ALL). Time travel must return exactly these.
    "q128_snapshot_history" ->
      """WITH b1 AS (
           SELECT event_id, event_ts_us, value FROM (
             SELECT event_id, epoch_us(ts) AS event_ts_us, value,
               row_number() OVER (PARTITION BY event_id
                 ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
             FROM events WHERE event_id % 3 = 0)
           WHERE rn = 1),
         b2 AS (
           SELECT event_id, event_ts_us, value FROM (
             SELECT event_id, epoch_us(ts) AS event_ts_us, value,
               row_number() OVER (PARTITION BY event_id
                 ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
             FROM events WHERE event_id % 2 = 0)
           WHERE rn = 1),
         v2 AS (
           SELECT * FROM b1 WHERE event_id NOT IN (SELECT event_id FROM b2)
           UNION ALL SELECT * FROM b2)
         SELECT event_id, event_ts_us, value, CAST(1 AS BIGINT) AS version FROM b1
         UNION ALL
         SELECT event_id, event_ts_us, value, CAST(2 AS BIGINT) AS version FROM v2""",
    // q129: append commits never dedup or rewrite — the current read is
    // the plain union of the two delivered batches.
    "q129_snapshot_append" ->
      """SELECT event_id, epoch_us(ts) AS event_ts_us, value
         FROM events WHERE event_id % 3 = 0
         UNION ALL
         SELECT event_id, epoch_us(ts) AS event_ts_us, value
         FROM events WHERE event_id % 3 = 1""",
    // q130: q24's distinct string-shingle CTE → global df → per-doc
    // novel (df=1) share, floor-quantized single division.
    "q130_ngram_novelty" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
                FROM docs, UNNEST(range(1, len(w) - 1)) t(i)),
         dfc AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s)
         SELECT doc_id, COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(FLOOR(CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000.0 / COUNT(*)) AS BIGINT) AS novelty_fp
         FROM sh JOIN dfc USING (s) GROUP BY doc_id""",
    // q131: q84's floor(ln·10⁶) recipe over IDF terms — df = docs
    // containing the token, N = corpus doc count.
    "q131_token_rarity" ->
      """WITH t AS (SELECT doc_id, u.w FROM (
             SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             UNNEST(ws) u(w) WHERE u.w <> ''),
         n AS (SELECT COUNT(*) AS nd FROM documents),
         c AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY w)
         SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CAST(FLOOR(ln((SELECT CAST(nd AS DOUBLE) FROM n)
             / CAST(df AS DOUBLE)) * 1000000.0) AS BIGINT)) AS BIGINT)
             AS rarity_fp,
           (CAST(SUM(CAST(FLOOR(ln((SELECT CAST(nd AS DOUBLE) FROM n)
             / CAST(df AS DOUBLE)) * 1000000.0) AS BIGINT)) AS BIGINT)
             / 1000000.0) / COUNT(*) AS avg_rarity
         FROM t JOIN c USING (w) GROUP BY doc_id""",
    // q134: q71's assignment CTE (cosine tree + min-cid tiebreak), then
    // within-cluster pairs via the same q25 cosine fold; losers = larger
    // id of any >= 0.3 pair.
    "q134_semdedup" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         s AS (SELECT e.vec_id, c.cid,
                 list_reduce(list_transform(list_zip(e.embedding, c.ce),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
                 / (sqrt(list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))
                  * sqrt(list_reduce(list_transform(c.ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))) AS cosine
               FROM embeddings e, c),
         asg AS (SELECT vec_id, cid FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY cosine DESC, cid) AS rn FROM s) WHERE rn = 1),
         p AS (SELECT a.vec_id AS ida, b.vec_id AS idb
               FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
               JOIN embeddings ea ON ea.vec_id = a.vec_id
               JOIN embeddings eb ON eb.vec_id = b.vec_id
               WHERE list_reduce(list_transform(list_zip(ea.embedding, eb.embedding),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
                 / (sqrt(list_reduce(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))
                  * sqrt(list_reduce(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)))
                 >= 0.3)
         SELECT vec_id, cid AS centroid_id FROM asg
         WHERE vec_id NOT IN (SELECT idb FROM p)""",
    // q135: the dedup state with DELETE (NOT COALESCE(pred, FALSE) —
    // null-evaluating rows survive) then UPDATE (CASE against the
    // original value) replayed relationally.
    "q135_snapshot_dml" ->
      """WITH b AS (
           SELECT event_id, event_type, event_ts_us, value FROM (
             SELECT event_id, event_type, epoch_us(ts) AS event_ts_us, value,
               row_number() OVER (PARTITION BY event_id
                 ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
             FROM events WHERE event_id % 3 = 0)
           WHERE rn = 1),
         kept AS (SELECT * FROM b WHERE NOT COALESCE(value < 50.0, FALSE))
         SELECT event_id, event_type, event_ts_us,
           CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END
             AS value
         FROM kept""",
    // q136: rows must survive the Z-clustered rewrite bit-for-bit — the
    // oracle is the pre-optimize state itself.
    "q136_snapshot_optimize" ->
      """SELECT event_id, user_id, event_ts_us FROM (
           SELECT event_id, user_id, epoch_us(ts) AS event_ts_us,
             row_number() OVER (PARTITION BY event_id
               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
           FROM events WHERE user_id IS NOT NULL)
         WHERE rn = 1""",
    // q133: both snapshot states replayed, FULL OUTER JOIN on the key,
    // row-local null-safe classification (IS DISTINCT FROM).
    "q133_snapshot_diff" ->
      """WITH b1 AS (
           SELECT event_id, event_ts_us, value FROM (
             SELECT event_id, epoch_us(ts) AS event_ts_us, value,
               row_number() OVER (PARTITION BY event_id
                 ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
             FROM events WHERE event_id % 3 = 0)
           WHERE rn = 1),
         b2 AS (
           SELECT event_id, event_ts_us, value * 2 AS value FROM (
             SELECT event_id, epoch_us(ts) AS event_ts_us, value,
               row_number() OVER (PARTITION BY event_id
                 ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
             FROM events WHERE event_id % 2 = 0)
           WHERE rn = 1),
         j AS (
           SELECT CASE WHEN a.event_id IS NULL THEN 'insert'
                       WHEN b.event_id IS NULL THEN 'delete'
                       WHEN (a.event_ts_us IS DISTINCT FROM b.event_ts_us)
                         OR (a.value IS DISTINCT FROM b.value)
                       THEN 'update' END AS change_type,
             COALESCE(b.event_id, a.event_id) AS event_id,
             a.event_ts_us AS old_event_ts_us,
             b.event_ts_us AS new_event_ts_us,
             a.value AS old_value, b.value AS new_value
           FROM b1 a FULL OUTER JOIN b2 b ON a.event_id = b.event_id)
         SELECT * FROM j WHERE change_type IS NOT NULL""",
    // q132: q27's md5 keeper convention, cumulative predicates replayed
    // stage by stage.
    "q132_curation_funnel" ->
      """WITH f AS (SELECT doc_id, lang,
             len(string_split(text, ' ')) AS nt,
             doc_id = MIN(doc_id) OVER (
               PARTITION BY md5(lower(trim(text)))) AS keep
           FROM documents)
         SELECT '00_start' AS stage, COUNT(*) AS n_docs FROM f
         UNION ALL SELECT '10_exact_dedup', COUNT(*) FROM f WHERE keep
         UNION ALL SELECT '20_lang', COUNT(*) FROM f
           WHERE keep AND lang = 'en'
         UNION ALL SELECT '30_min_tokens', COUNT(*) FROM f
           WHERE keep AND lang = 'en' AND nt >= 40""",
    // q125: same pinned double pipeline — counts are exact longs, p/q
    // derive once each, ln through the floor(·10⁹) gate.
    "q125_category_drift" ->
      """WITH c AS (SELECT event_type,
             SUM(CASE WHEN epoch_us(ts) // 86400000000 < 19738
                      THEN 1 ELSE 0 END) AS n_p,
             SUM(CASE WHEN epoch_us(ts) // 86400000000 < 19738
                      THEN 0 ELSE 1 END) AS n_q
           FROM events GROUP BY 1),
         t AS (SELECT event_type, CAST(n_p AS BIGINT) AS n_p,
                 CAST(n_q AS BIGINT) AS n_q,
                 CAST(SUM(n_p) OVER () AS DOUBLE) AS np,
                 CAST(SUM(n_q) OVER () AS DOUBLE) AS nq,
                 CAST(COUNT(*) OVER () AS DOUBLE) AS v
               FROM c)
         SELECT event_type, n_p, n_q,
           CAST(FLOOR(
             ((CAST(n_p AS DOUBLE) + 1.0) / (np + v)) *
             ln(((CAST(n_p AS DOUBLE) + 1.0) / (np + v)) /
                ((CAST(n_q AS DOUBLE) + 1.0) / (nq + v))) *
             1000000000.0) AS BIGINT) AS kl_fp
         FROM t""",
    // q137: positional string trigrams (df structure equals the hashed
    // shingles up to 64-bit collisions — q70's caveat), df>1 positions,
    // gaps-and-islands per doc.
    "q137_dup_spans" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                       WHERE len(string_split(text, ' ')) >= 3),
         g AS (SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
               FROM docs, UNNEST(range(1, len(w) - 1)) t(i)),
         dfc AS (SELECT s FROM g GROUP BY s HAVING COUNT(*) > 1),
         dup AS (SELECT doc_id, pos FROM g JOIN dfc USING (s)),
         isl AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                 FROM dup)
         SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 2 AS span_end,
           COUNT(*) AS n_grams,
           MAX(pos) + 2 - MIN(pos) + 1 AS span_tokens
         FROM isl GROUP BY doc_id, grp""",
    // q138: unigram + bigram occurrences, md5₆₀ bucket hash mod 2^16,
    // weight_fp(b) = md5₆₀('w-'||b) mod 2000001 − 10⁶, exact long sums.
    "q138_quality_classifier" ->
      """WITH f AS (
           SELECT doc_id, u.w AS f FROM (
             SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             UNNEST(ws) u(w) WHERE u.w <> ''
           UNION ALL
           SELECT doc_id, w[i] || ' ' || w[i+1] FROM (
             SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(range(1, len(w))) t(i)),
         b AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(f), 1, 15)) AS BIGINT) % 65536 AS bkt
               FROM f),
         wt AS (SELECT i AS bkt,
                 CAST(('0x' || substr(md5('w-' || CAST(i AS VARCHAR)), 1, 15))
                   AS BIGINT) % 2000001 - 1000000 AS wf
                FROM generate_series(0, 65535) s(i))
         SELECT doc_id, COUNT(*) AS n_features,
           CAST(SUM(wf) AS BIGINT) AS score_fp,
           (CAST(SUM(wf) AS BIGINT) / 1000000.0) / COUNT(*) AS avg_score,
           CAST(SUM(wf) AS BIGINT) > 0 AS keep
         FROM b JOIN wt USING (bkt) GROUP BY doc_id""",
    // q139: q97's chunk replication with the keep rule swapped — a chunk
    // survives iff its distinct-doc frequency stays under 3.
    "q139_drop_boilerplate" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         s AS (SELECT doc_id, w, len(w) AS n FROM docs),
         c AS (SELECT doc_id, n,
                 unnest(range(1, greatest(1, n) + 1, 10)) AS cs,
                 w FROM s),
         ch AS (SELECT doc_id, n, cs,
                  array_to_string(w[cs:cs + 9], ' ') AS chunk_text
                FROM c),
         hot AS (SELECT chunk_text FROM (
                   SELECT chunk_text, COUNT(DISTINCT doc_id) AS nd
                   FROM ch GROUP BY chunk_text)
                 WHERE nd >= 3),
         kept AS (SELECT doc_id,
                    string_agg(chunk_text, ' ' ORDER BY cs) AS clean_text,
                    COUNT(*) AS n_kept
                  FROM ch WHERE chunk_text NOT IN (SELECT chunk_text FROM hot)
                  GROUP BY doc_id)
         SELECT s.doc_id, COALESCE(kept.clean_text, '') AS clean_text,
           CAST(ceil(n / 10.0) AS BIGINT) AS n_chunks,
           COALESCE(kept.n_kept, 0) AS n_kept
         FROM s LEFT JOIN kept USING (doc_id)""",
    // q140: an independent formulation of the same truth — positional
    // trigram equality instead of the postings adjacency join.
    "q140_phrase_search" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
         g AS (SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
               FROM d, UNNEST(range(1, len(w) - 1)) t(i))
         SELECT doc_id, pos FROM g WHERE s = 'data table scan'""",
    // q141: q132's keeper window, rolled up per source.
    "q141_source_report" ->
      """WITH f AS (SELECT source, lang,
             len(string_split(text, ' ')) AS nt,
             doc_id = MIN(doc_id) OVER (
               PARTITION BY md5(lower(trim(text)))) AS keep
           FROM documents)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST(FLOOR(CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000.0 / COUNT(*)) AS BIGINT) AS dup_rate_fp,
           CAST(SUM(nt) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avg_tokens
         FROM f GROUP BY source""",
    // q142: distinct baskets, co-partitioned pair self-join, marginals,
    // lift through the single-division floor gate (long products stay
    // exact in doubles at these magnitudes).
    "q142_basket_lift" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
         n AS (SELECT COUNT(DISTINCT bk) AS nb FROM b),
         m AS (SELECT it, COUNT(*) AS cnt FROM b GROUP BY it),
         p AS (SELECT a.it AS item_a, x.it AS item_b, COUNT(*) AS n_ab
               FROM b a JOIN b x ON a.bk = x.bk AND a.it < x.it
               GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         SELECT item_a, item_b, n_ab, ma.cnt AS n_a, mb.cnt AS n_b,
           CAST(FLOOR(CAST(n_ab AS DOUBLE) * (SELECT CAST(nb AS DOUBLE) FROM n)
             * 1000000.0 / (CAST(ma.cnt AS DOUBLE) * CAST(mb.cnt AS DOUBLE)))
             AS BIGINT) AS lift_fp
         FROM p JOIN m ma ON ma.it = item_a JOIN m mb ON mb.it = item_b""",
    // q143: ltc TF-IDF weights over 3-gram occurrence terms, quantized
    // once (floor(w·10³) longs), exact long pair dots and norms, one
    // IEEE division per pair — idf=0 terms dropped on both sides
    // (weight exactly 0).
    "q143_tfidf_cosine" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
         g AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
               FROM d, UNNEST(range(1, len(w) - 1)) t(i)),
         tf AS (SELECT doc_id, s AS w, COUNT(*) AS tf FROM g GROUP BY 1, 2),
         n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM tf),
         dfx AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
         wt AS (SELECT doc_id, tf.w,
                  CAST(FLOOR((1.0 + ln(CAST(tf AS DOUBLE)))
                    * ln((SELECT CAST(nd AS DOUBLE) FROM n) / CAST(df AS DOUBLE))
                    * 1000.0) AS BIGINT) AS wq
                FROM tf JOIN dfx ON tf.w = dfx.w
                WHERE df < (SELECT nd FROM n)),
         nm AS (SELECT doc_id, CAST(SUM(wq * wq) AS BIGINT) AS nq
                FROM wt GROUP BY doc_id),
         dt AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  COUNT(*) AS n_shared, CAST(SUM(a.wq * b.wq) AS BIGINT) AS dot
                FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
         SELECT doc_a, doc_b, n_shared, dot,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE))
             * sqrt(CAST(nb.nq AS DOUBLE))) AS cosine
         FROM dt JOIN nm na ON na.doc_id = doc_a
                 JOIN nm nb ON nb.doc_id = doc_b
         WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nq AS DOUBLE))
             * sqrt(CAST(nb.nq AS DOUBLE))) >= 0.3""",
    // q144: distinct (source, 3-gram) postings, per-shingle pair fanout
    // bounded by the source dimension's cardinality, exact set algebra.
    "q144_source_overlap" ->
      """WITH d AS (SELECT source, string_split(text, ' ') AS w FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
         ss AS (SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
                FROM d, UNNEST(range(1, len(w) - 1)) t(i)),
         sz AS (SELECT source, COUNT(*) AS n_sh FROM ss GROUP BY source),
         it AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
                FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
                GROUP BY 1, 2)
         SELECT src_a, src_b, n_shared, sa.n_sh AS n_a, sb.n_sh AS n_b,
           n_shared / (sa.n_sh + sb.n_sh - n_shared) AS jaccard,
           n_shared / least(sa.n_sh, sb.n_sh) AS overlap
         FROM it JOIN sz sa ON sa.source = src_a
                 JOIN sz sb ON sb.source = src_b""",
    // q145: the md5 sign matrix rebuilt cell-by-cell (the hashUnit /
    // hash60 parity contract), inputs quantized once to 2^20 fixed
    // point, exact long sums.
    "q145_random_projection" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding,
             x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS vq
           FROM embeddings),
         s AS (SELECT k, j,
                 CASE WHEN ('0x' || substr(md5('rp-' || k || '-' || j), 1, 15))::BIGINT
                        % 2 = 0 THEN 1 ELSE -1 END AS sgn
               FROM range(0, 16) t(k), range(0, 64) u(j))
         SELECT vec_id, k AS proj_dim,
           CAST(SUM(sgn * vq[j + 1]) AS BIGINT) AS comp_fp
         FROM v, s GROUP BY 1, 2""",
    // q146: q71's assignment CTE, then most-prototypical-first rank per
    // cluster and the integer-division cut (rank > cnt·50 div 100).
    "q146_prototype_prune" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         s AS (SELECT e.vec_id, c.cid,
                 list_reduce(list_transform(list_zip(e.embedding, c.ce),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
                 / (sqrt(list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))
                  * sqrt(list_reduce(list_transform(c.ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))) AS cosine
               FROM embeddings e, c),
         asg AS (SELECT vec_id, cid AS centroid_id, cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY cosine DESC, cid) AS rn FROM s) WHERE rn = 1),
         r AS (SELECT *, row_number() OVER (PARTITION BY centroid_id
                 ORDER BY cosine DESC, vec_id) AS proto_rank,
                 COUNT(*) OVER (PARTITION BY centroid_id) AS cnt
               FROM asg)
         SELECT vec_id, centroid_id, cosine, proto_rank FROM r
         WHERE proto_rank > cnt * 50 // 100""",
    // q147: generated per-round plurality-vote CTEs (see labelPropOracle).
    "q147_label_prop" -> labelPropOracle(4),
    // q148: md5 bucket replay (hash60 contract), smoothed log-ratio
    // weights quantized once, q84-style exact per-doc sums.
    "q148_dsir_weights" ->
      """WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
             ('0x' || substr(md5('dsir' || u.w), 1, 15))::BIGINT % 1024 AS b
           FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
           UNNEST(ws) u(w)),
         bc AS (SELECT b, COUNT(*) AS cr,
                  SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
                FROM t GROUP BY b),
         tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr,
                   CAST(SUM(ct) AS BIGINT) AS tt FROM bc),
         wt AS (SELECT b, CAST(FLOOR(ln(
                  ((CAST(ct AS DOUBLE) + 0.5)
                    / ((SELECT CAST(tt AS DOUBLE) FROM tot) + 512.0))
                  / ((CAST(cr AS DOUBLE) + 0.5)
                    / ((SELECT CAST(tr AS DOUBLE) FROM tot) + 512.0)))
                  * 1000000.0) AS BIGINT) AS w
                FROM bc)
         SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(w) AS BIGINT) AS dsir_fp,
           (CAST(SUM(w) AS BIGINT) / 1000000.0) / COUNT(*) AS avg_dsir
         FROM t JOIN wt USING (b) GROUP BY doc_id""",
    // q149: generated per-step argmax CTEs (see mmrOracleSql).
    "q149_mmr_select" -> mmrOracleSql(8),
    // q150: customer-grain rollup, three unique-tiebreak rank windows,
    // integer-division quintile cut replayed with //.
    "q150_rfm_segments" ->
      """WITH c AS (SELECT CAST(o_custkey AS BIGINT) AS custkey,
             MAX(epoch_us(o_orderdate)) AS recency_us,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
           FROM orders GROUP BY 1),
         r AS (SELECT *,
             row_number() OVER (ORDER BY recency_us, custkey) AS rr,
             row_number() OVER (ORDER BY frequency, custkey) AS rf,
             row_number() OVER (ORDER BY monetary, custkey) AS rm,
             COUNT(*) OVER () AS n
           FROM c)
         SELECT custkey, recency_us, frequency, monetary,
           ((rr - 1) * 5) // n + 1 AS r_score,
           ((rf - 1) * 5) // n + 1 AS f_score,
           ((rm - 1) * 5) // n + 1 AS m_score,
           CAST(((rr - 1) * 5) // n + 1 AS VARCHAR)
             || CAST(((rf - 1) * 5) // n + 1 AS VARCHAR)
             || CAST(((rm - 1) * 5) // n + 1 AS VARCHAR) AS segment
         FROM r""",
    // q151: the q124 generated merge stages, final symbol lengths joined
    // back onto the per-document word stream.
    "q151_bpe_token_counts" -> bpeOracleSql(3, Some(
      """, dt AS (SELECT doc_id, u.w FROM (
             SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             UNNEST(ws) u(w) WHERE length(u.w) > 0)
         SELECT doc_id, COUNT(*) AS n_words,
           CAST(SUM(len(sym)) AS BIGINT) AS n_bpe_tokens
         FROM dt JOIN s3 ON s3.w = dt.w GROUP BY doc_id""")),
    // q152: the q95 component CTEs, winner re-picked by (token count
    // desc, node asc) instead of min id.
    "q152_quality_canonical" -> (simhashComponentsCte + """,
         comp AS (SELECT node, MIN(lab) AS component FROM reach GROUP BY node),
         sc AS (SELECT c.node, c.component,
                  len(string_split(d.text, ' ')) AS s
                FROM comp c JOIN documents d ON d.doc_id = c.node),
         win AS (SELECT component, node FROM (
             SELECT *, row_number() OVER (PARTITION BY component
               ORDER BY s DESC, node) AS rn FROM sc) WHERE rn = 1),
         losers AS (SELECT node FROM comp
                    WHERE node NOT IN (SELECT node FROM win))
         SELECT d.doc_id, d.lang, d.n_chars FROM documents d
         LEFT JOIN losers l ON d.doc_id = l.node
         WHERE l.node IS NULL"""),
    // q153: boundary = md5-hash60(3-gram at i) % 8 = 0 for i in [2, t-2]
    // (the hash60 parity recipe), chunk bounds from the starts list,
    // text/hash replayed per chunk.
    "q153_cdc_chunks" -> (cdcChunksCte + """
         SELECT doc_id, chunk_idx, chunk_start, n_chunk_tokens,
           chunk_text, chunk_hash
         FROM chunks"""),
    // q154: the q153 chunk CTEs through a corpus-wide keep-first window
    // on the chunk hash, rolled up per document.
    "q154_cdc_dedup" -> (cdcChunksCte + """,
         kf AS (SELECT doc_id, chunk_idx, n_chunk_tokens,
                  row_number() OVER (PARTITION BY chunk_hash
                    ORDER BY doc_id, chunk_idx) AS rn
                FROM chunks)
         SELECT doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           CAST(SUM(n_chunk_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN rn > 1 THEN n_chunk_tokens ELSE 0 END) AS BIGINT)
             AS n_dup_tokens,
           (CAST(SUM(CASE WHEN rn > 1 THEN n_chunk_tokens ELSE 0 END) AS BIGINT)
             * 1000000) // CAST(SUM(n_chunk_tokens) AS BIGINT)
             AS dup_token_frac_fp
         FROM kf GROUP BY doc_id"""),
    // q155: per-source Zipf exponent — ranked token frequencies, both
    // axes fixed-point ln, exact HUGEINT OLS sums mirroring olsFit's
    // decimal sums (identical integers → identical doubles).
    "q155_zipf_slope" ->
      """WITH tf AS (SELECT source, u.w, COUNT(*) AS f FROM (
             SELECT source, string_split(text, ' ') AS ws FROM documents),
             UNNEST(ws) u(w) GROUP BY 1, 2),
         p AS (SELECT source,
                 CAST(FLOOR(ln(CAST(row_number() OVER (PARTITION BY source
                     ORDER BY f DESC, w) AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
                 CAST(FLOOR(ln(CAST(f AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
               FROM tf),
         st AS (SELECT source, COUNT(*) AS n,
                  SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
                  SUM(CAST(x AS HUGEINT) * y) AS sxy,
                  SUM(CAST(x AS HUGEINT) * x) AS sxx
                FROM p GROUP BY 1 HAVING COUNT(*) >= 2),
         sl AS (SELECT source, n, sx, sy,
                  CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                    / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS slope
                FROM st WHERE CAST(n AS HUGEINT) * sxx - sx * sx <> 0)
         SELECT source, n AS n_types, slope,
           (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
             AS intercept
         FROM sl""",
    // q156: daily DECIMAL-exact cent totals per event type, same exact
    // OLS replay — slope is cents/day.
    "q156_trend_slopes" ->
      """WITH dly AS (SELECT event_type AS series,
             epoch_us(ts) // 86400000000 AS x,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
         st AS (SELECT series, COUNT(*) AS n,
                  SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
                  SUM(CAST(x AS HUGEINT) * y) AS sxy,
                  SUM(CAST(x AS HUGEINT) * x) AS sxx
                FROM dly GROUP BY 1 HAVING COUNT(*) >= 2),
         sl AS (SELECT series, n, sx, sy,
                  CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                    / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS slope
                FROM st WHERE CAST(n AS HUGEINT) * sxx - sx * sx <> 0)
         SELECT series, n AS n_days, slope,
           (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
             AS intercept
         FROM sl""",
    // q157: q71's assignment, per-cluster fixed-point scatter, k²
    // centroid separations via the same cosine fold, max DB ratio.
    "q157_davies_bouldin" ->
      (s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         s AS (SELECT e.vec_id, c.cid,
                 ${cosSql("e.embedding", "c.ce")} AS cosine
               FROM embeddings e, c),
         asg AS (SELECT vec_id, cid AS centroid_id, cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY cosine DESC, cid) AS rn FROM s) WHERE rn = 1),
         sc AS (SELECT centroid_id, COUNT(*) AS n_members,
                  CAST(SUM(CAST(FLOOR((1.0 - cosine) * 1000000.0) AS BIGINT))
                    AS BIGINT) AS sq
                FROM asg GROUP BY 1),
         scd AS (SELECT centroid_id, n_members,
                   CAST(sq AS DOUBLE) / CAST(n_members AS DOUBLE) AS scatter
                 FROM sc),
         sep AS (SELECT a.cid AS ci, b.cid AS cj,
                   1.0 - ${cosSql("a.ce", "b.ce")} AS d
                 FROM c a JOIN c b ON a.cid <> b.cid)
         SELECT i.centroid_id, i.n_members, i.scatter,
           MAX((i.scatter + j.scatter) / sep.d) AS r_db
         FROM scd i JOIN sep ON sep.ci = i.centroid_id
              JOIN scd j ON j.centroid_id = sep.cj
         GROUP BY 1, 2, 3"""),
    // q158: the q50 simhash pair graph joined onto the q57 md5 splits;
    // unordered split combination via least/greatest, leaks flagged.
    "q158_split_leakage" -> (simhashComponentsCte + """,
         sp AS (SELECT doc_id,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'validation'
                  ELSE 'test' END AS split
           FROM (SELECT doc_id,
                   CAST(('0x' || substr(md5('split-' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
                 FROM documents)),
         lk AS (SELECT least(sa.split, sb.split) AS split_a,
                  greatest(sa.split, sb.split) AS split_b
                FROM pairs p JOIN sp sa ON sa.doc_id = p.pa
                     JOIN sp sb ON sb.doc_id = p.pb)
         SELECT split_a, split_b, COUNT(*) AS n_pairs,
           split_a <> split_b AS leaked
         FROM lk GROUP BY 1, 2"""),
    // q159: q156's daily cent panel self-joined on day, exact HUGEINT
    // Pearson sums, r from the identical integer→double closed form.
    "q159_metric_corr" ->
      """WITH dly AS (SELECT event_type AS series,
             epoch_us(ts) // 86400000000 AS x,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
         pr AS (SELECT a.series AS sa, b.series AS sb,
                  CAST(a.y AS HUGEINT) AS ya, CAST(b.y AS HUGEINT) AS yb
                FROM dly a JOIN dly b ON a.x = b.x AND a.series < b.series),
         st AS (SELECT sa, sb, COUNT(*) AS n, SUM(ya) AS sx, SUM(yb) AS sy,
                  SUM(ya * yb) AS sxy, SUM(ya * ya) AS sxx,
                  SUM(yb * yb) AS syy
                FROM pr GROUP BY 1, 2),
         v AS (SELECT sa, sb, n, sx, sy, sxy,
                 CAST(n AS HUGEINT) * sxx - sx * sx AS vx,
                 CAST(n AS HUGEINT) * syy - sy * sy AS vy
               FROM st)
         SELECT sa AS series_a, sb AS series_b, n AS n_obs,
           CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE))) AS r
         FROM v WHERE vx > 0 AND vy > 0""",
    // q160: each daily row contributes to its 16 forward anchors with
    // dyadic weight 2^(15-gap); spine left join, absent days are zero.
    "q160_ewma_smooth" ->
      """WITH dly AS (SELECT event_type AS series,
             epoch_us(ts) // 86400000000 AS x,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
         bnd AS (SELECT series, MIN(x) AS mn, MAX(x) AS mx
                 FROM dly GROUP BY 1),
         sp AS (SELECT series, UNNEST(generate_series(mn, mx)) AS day
                FROM bnd),
         ctr AS (SELECT series, x + j AS day,
                   SUM(y * (CAST(1 AS BIGINT) << CAST(15 - j AS INTEGER)))
                     AS s
                 FROM dly, generate_series(0, 15) t(j) GROUP BY 1, 2)
         SELECT sp.series, sp.day, CAST(COALESCE(ctr.s, 0) AS BIGINT) AS ewma_fp
         FROM sp LEFT JOIN ctr
           ON ctr.series = sp.series AND ctr.day = sp.day""",
    // q161: one UNION ALL branch per profiled column over the same
    // type-normalized orders projection; typed min/max rendered last.
    "q161_profile_report" -> {
      val branches = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "price_cents", "order_date").map { c =>
        s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           COUNT(DISTINCT $c) AS n_distinct,
           CAST(MIN($c) AS VARCHAR) AS min_value,
           CAST(MAX($c) AS VARCHAR) AS max_value FROM p"""
      }
      """WITH p AS (SELECT o_orderkey, o_custkey, o_orderstatus,
             o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_cents,
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date
           FROM orders)
         """ + branches.mkString("\n         UNION ALL ")
    },
    // q209: md5 ranking + graded relevance replayed with the SAME
    // generated discount LUT (round(2^30/log2(pos+1)) literals) —
    // no libm at query time on either engine.
    "q209_ranking_metrics" -> {
      val lutSql = graft.ml.Eval.ndcgDiscountLut(10).mkString("[", ", ", "]")
      s"""WITH docs AS (SELECT lang, doc_id FROM documents),
         sc AS (SELECT lang, doc_id,
             CAST(('0x' || substr(md5('rank-' || CAST(doc_id AS VARCHAR)),
               1, 15)) AS BIGINT) AS score FROM docs),
         rk AS (SELECT lang, doc_id, row_number() OVER (
                  PARTITION BY lang ORDER BY score DESC, doc_id) AS rank
                FROM sc),
         posrel AS MATERIALIZED (SELECT lang, doc_id,
             CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 1 END AS rel
           FROM docs WHERE doc_id % 7 IN (0, 1)),
         topk AS (SELECT r.lang, r.rank, COALESCE(p.rel, 0) AS rel
                  FROM rk r LEFT JOIN posrel p
                    ON r.lang = p.lang AND r.doc_id = p.doc_id
                  WHERE r.rank <= 10),
         got AS (SELECT lang,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
             COALESCE(MIN(CASE WHEN rel > 0 THEN rank END), 0) AS first_rel,
             CAST(SUM(((CAST(1 AS BIGINT) << rel) - 1) *
               list_extract($lutSql, rank)) AS BIGINT) AS dcg_fp,
             COUNT(*) AS n_ranked
           FROM topk GROUP BY 1),
         ideal AS (SELECT lang,
             CAST(SUM(((CAST(1 AS BIGINT) << rel) - 1) *
               list_extract($lutSql, pos)) AS BIGINT) AS idcg_fp
           FROM (SELECT lang, rel, row_number() OVER (
                   PARTITION BY lang ORDER BY rel DESC, doc_id) AS pos
                 FROM posrel) x
           WHERE pos <= 10 GROUP BY 1),
         nrel AS (SELECT lang, COUNT(*) AS n_rel FROM posrel GROUP BY 1)
         SELECT g.lang AS lang, COALESCE(n.n_rel, 0) AS n_rel, g.hits AS hits,
           CAST(CASE WHEN g.first_rel > 0
             THEN 1073741824 // g.first_rel ELSE 0 END AS BIGINT) AS mrr_fp,
           g.dcg_fp AS dcg_fp, COALESCE(i.idcg_fp, 0) AS idcg_fp,
           CAST(CASE WHEN COALESCE(i.idcg_fp, 0) > 0
             THEN (g.dcg_fp * 1000000) // i.idcg_fp END AS BIGINT) AS ndcg_ppm,
           CAST(CASE WHEN COALESCE(n.n_rel, 0) > 0
             THEN (g.hits * 1000000) // n.n_rel END AS BIGINT) AS recall_ppm,
           CAST((g.hits * 1000000) // g.n_ranked AS BIGINT) AS precision_ppm
         FROM got g LEFT JOIN nrel n ON g.lang = n.lang
         LEFT JOIN ideal i ON g.lang = i.lang"""
    },
    // q210: the same blocked join with the SAME build-time fixed-point
    // log weights (FieldSpec.agreeFp/disagreeFp interpolated).
    "q210_record_linkage" -> {
      val fs = linkageFields
      def cmp(f: graft.text.Linkage.FieldSpec) =
        s"CASE WHEN ${f.leftCol} = ${f.rightCol} THEN ${f.agreeFp} " +
          s"ELSE ${f.disagreeFp} END"
      def agr(f: graft.text.Linkage.FieldSpec) =
        s"CASE WHEN ${f.leftCol} = ${f.rightCol} THEN 1 ELSE 0 END"
      s"""WITH a AS (SELECT c_custkey AS id_a,
             CAST(c_nationkey AS VARCHAR) || '|' || right(c_name, 2) AS blk,
             c_name AS name_a, c_mktsegment AS seg_a,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000
               AS bkt_a,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_a
           FROM customer),
         b AS (SELECT c_custkey + 1000000 AS id_b,
             CAST(c_nationkey AS VARCHAR) || '|' || right(c_name, 2) AS blk,
             CASE WHEN c_custkey % 3 = 0 THEN upper(c_name) ELSE c_name END
               AS name_b,
             CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END
               AS seg_b,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000
               AS bkt_b,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_b
           FROM customer),
         p AS (SELECT id_a, id_b,
             ${fs.map(agr).mkString(" + ")} AS n_agree,
             ${fs.map(cmp).mkString(" + ")} AS score_fp
           FROM a JOIN b USING (blk))
         SELECT id_a, id_b, CAST(n_agree AS BIGINT) AS n_agree,
           CAST(score_fp AS BIGINT) AS score_fp,
           CASE WHEN score_fp >= ${16L << 20} THEN 'match'
             ELSE 'possible' END AS decision
         FROM p WHERE score_fp >= ${10L << 20}"""
    },
    // q211: the same two-step HUGEINT floor-division ratio, top-50 by
    // (pmi desc, x, y).
    "q211_pmi_collocations" ->
      """WITH st AS MATERIALIZED (SELECT doc_id, w, len(w) AS L
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
         tot AS (SELECT CAST(SUM(L) AS BIGINT) AS n_tot,
             CAST(SUM(greatest(L - 1, 0)) AS BIGINT) AS b_tot FROM st),
         bi AS (SELECT w[i.i] AS x, w[i.i + 1] AS y
                FROM st, UNNEST(range(1, L)) i(i) WHERE L >= 2),
         cb AS (SELECT x, y, COUNT(*) AS c_xy FROM bi
                GROUP BY 1, 2 HAVING COUNT(*) >= 5),
         un AS MATERIALIZED (SELECT u.t AS w, COUNT(*) AS n_w
                FROM st, UNNEST(w) u(t) GROUP BY 1),
         j AS (SELECT x, y, c_xy, ux.n_w AS n_x, uy.n_w AS n_y,
             CAST(((CAST(c_xy AS HUGEINT) * 1048576 * n_tot) //
               (CAST(ux.n_w AS HUGEINT) * uy.n_w) * n_tot) // b_tot
               AS BIGINT) AS pmi_fp
           FROM cb CROSS JOIN tot
           JOIN un ux ON cb.x = ux.w JOIN un uy ON cb.y = uy.w),
         r AS (SELECT *, row_number() OVER (
                 ORDER BY pmi_fp DESC, x, y) AS rank FROM j)
         SELECT x, y, c_xy, n_x, n_y, pmi_fp, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 50""",
    // q212: q144's shingle CTE → md5 base hashes → the SAME build-time
    // (a_j, b_j) mod-prime permutations as 64 generated MIN columns.
    "q212_minhash_source_sim" -> {
      val coeffs = SparseSim.minhashCoeffs(64)
      val p = SparseSim.MinhashPrime
      val mins = coeffs.zipWithIndex.map { case ((a, b), j) =>
        s"MIN(CAST((CAST(b0 AS HUGEINT) * $a + $b) % $p AS BIGINT)) AS m$j"
      }.mkString(",\n             ")
      val agrees = (0 until 64).map(j =>
        s"CASE WHEN x.m$j = y.m$j THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH d AS (SELECT source, string_split(text, ' ') AS w FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
         ss AS (SELECT DISTINCT source,
                  w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
                FROM d, UNNEST(range(1, len(w) - 1)) t(i)),
         hb AS (SELECT source,
                  CAST(('0x' || substr(md5('mh-' || sh), 1, 15)) AS BIGINT)
                    AS b0
                FROM ss),
         m AS (SELECT source,
             $mins
           FROM hb GROUP BY source)
         SELECT x.source AS src_a, y.source AS src_b,
           CAST($agrees AS BIGINT) AS n_agree,
           CAST(($agrees) * 1000000 // 64 AS BIGINT) AS est_jaccard_ppm
         FROM m x JOIN m y ON x.source < y.source"""
    },
    // q213: q160's dly CTE + the HUGEINT square inequality over a
    // 7-preceding row frame.
    "q213_rolling_z_outliers" ->
      """WITH dly AS (SELECT event_type AS series,
             epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y_fp
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
         w AS (SELECT series, day, y_fp,
             COUNT(y_fp) OVER win AS n_win,
             SUM(y_fp) OVER win AS s1,
             SUM(CAST(y_fp AS HUGEINT) * y_fp) OVER win AS s2
           FROM dly WINDOW win AS (PARTITION BY series ORDER BY day
             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT series, day, y_fp, CAST(n_win AS BIGINT) AS n_win,
           CAST(COALESCE(s1, 0) AS BIGINT) AS win_sum,
           CASE WHEN n_win >= 4 THEN
             (CAST(n_win AS HUGEINT) * y_fp - s1) *
               (CAST(n_win AS HUGEINT) * y_fp - s1)
               > 4 * (CAST(n_win AS HUGEINT) * s2 -
                 CAST(s1 AS HUGEINT) * s1)
           END AS is_outlier
         FROM w""",
    // q214: q52's LSH ranking + q25's exact ranking CTEs, then the q209
    // metric replay (k=5 LUT, binary grades).
    "q214_ann_recall" -> {
      val lutSql = graft.ml.Eval.ndcgDiscountLut(5).mkString("[", ", ", "]")
      s"""WITH b AS (
           SELECT vec_id, embedding, t.t,
             (SELECT SUM(CASE WHEN (
                 list_reduce(list_transform(embedding, (x, d) ->
                   CAST(x AS DOUBLE) * ((CAST(('0x' || substr(md5('hp-' || t.t || '-' || p.p || '-' || (d-1)), 1, 15)) AS BIGINT) % 2000003) / 1000001.5 - 1.0)),
                   (a, v) -> a + v)) > 0 THEN (1 << p.p) ELSE 0 END)
              FROM UNNEST(range(0, 6)) p(p)) AS bucket
           FROM embeddings, UNNEST(range(0, 3)) t(t)),
         cand AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.embedding AS qe, c.embedding AS ce
           FROM b q JOIN b c ON q.t = c.t AND q.bucket = c.bucket
           WHERE q.vec_id < 10 AND c.vec_id >= 10),
         sc AS (
           SELECT query_id, neighbor_id,
             list_reduce(list_transform(list_zip(qe, ce), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
             / (sqrt(list_reduce(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))
              * sqrt(list_reduce(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))) AS cosine
           FROM cand),
         lshr AS (SELECT query_id, neighbor_id, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
           FROM sc) WHERE rank <= 5),
         eq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
         ec AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings WHERE vec_id >= 10),
         es AS (SELECT query_id, neighbor_id,
                 list_reduce(list_transform(list_zip(qe, ce),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
                 / (sqrt(list_reduce(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))
                  * sqrt(list_reduce(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v))) AS cosine
               FROM eq, ec),
         ex AS (SELECT query_id, neighbor_id FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
           FROM es) WHERE rank <= 5),
         topk AS (SELECT l.query_id, l.rank,
             CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
           FROM lshr l LEFT JOIN ex e
             ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id),
         got AS (SELECT query_id,
             CAST(SUM(rel) AS BIGINT) AS hits,
             COALESCE(MIN(CASE WHEN rel > 0 THEN rank END), 0) AS first_rel,
             CAST(SUM(rel * list_extract($lutSql, rank)) AS BIGINT) AS dcg_fp,
             COUNT(*) AS n_ranked
           FROM topk GROUP BY 1),
         ideal AS (SELECT query_id,
             CAST(SUM(list_extract($lutSql, pos)) AS BIGINT) AS idcg_fp
           FROM (SELECT query_id, row_number() OVER (
                   PARTITION BY query_id ORDER BY neighbor_id) AS pos
                 FROM ex) x
           WHERE pos <= 5 GROUP BY 1),
         nrel AS (SELECT query_id, COUNT(*) AS n_rel FROM ex GROUP BY 1)
         SELECT g.query_id AS query_id, COALESCE(n.n_rel, 0) AS n_rel,
           g.hits AS hits,
           CAST(CASE WHEN g.first_rel > 0
             THEN 1073741824 // g.first_rel ELSE 0 END AS BIGINT) AS mrr_fp,
           g.dcg_fp AS dcg_fp, COALESCE(i.idcg_fp, 0) AS idcg_fp,
           CAST(CASE WHEN COALESCE(i.idcg_fp, 0) > 0
             THEN (g.dcg_fp * 1000000) // i.idcg_fp END AS BIGINT) AS ndcg_ppm,
           CAST(CASE WHEN COALESCE(n.n_rel, 0) > 0
             THEN (g.hits * 1000000) // n.n_rel END AS BIGINT) AS recall_ppm,
           CAST((g.hits * 1000000) // g.n_ranked AS BIGINT) AS precision_ppm
         FROM got g LEFT JOIN nrel n ON g.query_id = n.query_id
         LEFT JOIN ideal i ON g.query_id = i.query_id"""
    },
    // q215: one group count + one rollup; NULL quasi-values group (none
    // in this projection, but the GROUP BY semantics match regardless).
    "q215_k_anonymity" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000
               AS bal_bucket,
             COUNT(*) AS c
           FROM customer GROUP BY 1, 2, 3)
         SELECT CAST(5 AS BIGINT) AS k,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(MIN(c) AS BIGINT) AS min_group_size,
           CAST((SUM(CASE WHEN c < 5 THEN c ELSE 0 END) * 1000000) // SUM(c)
             AS BIGINT) AS at_risk_ppm
         FROM g""",
    // q216: per-customer rollup, the q62 integer-position percentile
    // replay per metric (value at rn = (n*p+99)//100) as one-row cut
    // CTEs, strict-> scores.
    "q216_rfm_segments" -> {
      def cutsCte(name: String, metric: String) =
        s"""$name AS (SELECT
             ${Seq(20, 40, 60, 80).map(p =>
            s"MAX(CASE WHEN rn = (n * $p + 99) // 100 THEN v END) AS c$p")
            .mkString(",\n             ")}
           FROM (SELECT $metric AS v,
                   row_number() OVER (ORDER BY $metric) AS rn,
                   COUNT(*) OVER () AS n FROM per))"""
      def score(metric: String, c: String) =
        s"""(1 + ${Seq(20, 40, 60, 80).map(p =>
          s"(CASE WHEN $metric > $c.c$p THEN 1 ELSE 0 END)")
          .mkString(" + ")})"""
      s"""WITH per AS MATERIALIZED (SELECT o_custkey AS cust,
             MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
               AS recency_day,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS monetary_cents
           FROM orders GROUP BY 1),
         ${cutsCte("cr", "recency_day")},
         ${cutsCte("cf", "frequency")},
         ${cutsCte("cm", "monetary_cents")}
         SELECT cust, CAST(recency_day AS BIGINT) AS recency_day,
           frequency, monetary_cents,
           CAST(${score("recency_day", "cr")} AS INTEGER) AS r_score,
           CAST(${score("frequency", "cf")} AS INTEGER) AS f_score,
           CAST(${score("monetary_cents", "cm")} AS INTEGER) AS m_score,
           CAST(${score("recency_day", "cr")} AS VARCHAR) ||
             CAST(${score("frequency", "cf")} AS VARCHAR) ||
             CAST(${score("monetary_cents", "cm")} AS VARCHAR) AS segment
         FROM per CROSS JOIN cr CROSS JOIN cf CROSS JOIN cm"""
    },
    // q162: generated per-round degree-filter CTEs — the exact peel loop.
    "q162_kcore" -> kcoreOracle(80, 6),
    // q163: q69's BM25 tree (top-50) + q25's cosine ranking (top-50 from
    // the vec_id=0 probe), reciprocal ranks as exact 2^30 div terms.
    "q163_rrf_fusion" ->
      (s"""WITH db AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         base AS (SELECT doc_id, len(w) AS dl, w FROM db),
         g AS (SELECT COUNT(*) AS n, SUM(dl) AS tot FROM base),
         tf AS (SELECT doc_id, dl, t.term, COUNT(*) AS tf
                FROM base, UNNEST(w) t(term)
                WHERE t.term IN ('spark', 'data', 'pipeline')
                GROUP BY doc_id, dl, t.term),
         dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         c AS (SELECT doc_id, term,
                 ln(1.0 + (CAST((SELECT n FROM g) AS DOUBLE) - df + 0.5) / (df + 0.5))
                   * (tf * (1.2 + 1.0))
                   / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl /
                       (SELECT CAST(tot AS DOUBLE) / n FROM g))) AS c
               FROM tf JOIN dfx USING (term)),
         sc AS (SELECT doc_id,
                 SUM(CASE WHEN term = 'spark' THEN c END) AS c1,
                 SUM(CASE WHEN term = 'data' THEN c END) AS c2,
                 SUM(CASE WHEN term = 'pipeline' THEN c END) AS c3
               FROM c GROUP BY doc_id),
         bmr AS (SELECT id, rank FROM (
                   SELECT doc_id AS id, row_number() OVER (ORDER BY
                       round(COALESCE(c1, 0) + COALESCE(c2, 0) + COALESCE(c3, 0), 3)
                         DESC, doc_id) AS rank
                   FROM sc) WHERE rank <= 50),
         annq AS MATERIALIZED (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         annc AS (SELECT vec_id AS id,
                    ${cosSql("embedding", "(SELECT qe FROM annq)")} AS cosine
                  FROM embeddings WHERE vec_id > 0),
         annr AS (SELECT id, rank FROM (
                    SELECT id, row_number() OVER (ORDER BY cosine DESC, id)
                      AS rank FROM annc) WHERE rank <= 50),
         u AS (SELECT id, 1073741824 // (60 + rank) AS s FROM bmr
               UNION ALL SELECT id, 1073741824 // (60 + rank) FROM annr)
         SELECT id, COUNT(*) AS n_lists, CAST(SUM(s) AS BIGINT) AS rrf_score_fp
         FROM u GROUP BY id
         ORDER BY rrf_score_fp DESC, id LIMIT 20"""),
    // q164: brute-force different-label cosine ranking per anchor — the
    // mining batch is vec_id<16, self-pairs excluded by id.
    "q164_hard_negatives" ->
      (s"""WITH a AS (SELECT vec_id AS anchor_id, embedding AS qe, label AS ql
              FROM embeddings WHERE vec_id < 16),
         c AS (SELECT vec_id AS negative_id, embedding AS ce, label AS cl
               FROM embeddings),
         sc AS (SELECT anchor_id, negative_id,
                  ${cosSql("qe", "ce")} AS cosine
                FROM a JOIN c ON anchor_id <> negative_id AND ql <> cl)
         SELECT anchor_id, negative_id, rank, cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY anchor_id
             ORDER BY cosine DESC, negative_id) AS rank FROM sc)
         WHERE rank <= 5"""),
    // q165: generated register/estimator replay + pairwise union.
    "q165_source_vocab_overlap" -> hllOverlapOracle(8),
    // q166: sqrt-count quantized once to 2^20 fixed point, exact long
    // normalizer, ppm integer division.
    "q166_temperature_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
         q AS (SELECT source, n_docs,
                 CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)) * 1048576.0) AS BIGINT) AS qv
               FROM c)
         SELECT source, n_docs,
           CAST((qv * CAST(1000000 AS BIGINT))
             // (SELECT CAST(SUM(qv) AS BIGINT) FROM q) AS BIGINT) AS weight_fp
         FROM q""",
    // q167: q138's score replay joined with the lang label, threshold
    // spine unnested, exact ppm precision/recall/F1 (NULL on 0/0).
    "q167_pr_sweep" -> (q138ScoredCte + """,
         th AS (SELECT CAST(UNNEST([-8000000, -4000000, -2000000, 0,
                  2000000, 4000000]) AS BIGINT) AS threshold),
         cc AS (SELECT t.threshold,
                  CAST(SUM(CASE WHEN score_fp >= t.threshold AND l THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                  CAST(SUM(CASE WHEN score_fp >= t.threshold AND NOT l THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                  CAST(SUM(CASE WHEN score_fp < t.threshold AND l THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                  CAST(SUM(CASE WHEN score_fp < t.threshold AND NOT l THEN 1 ELSE 0 END) AS BIGINT) AS tn
                FROM lab, th t GROUP BY 1)
         SELECT threshold, tp, fp, fn, tn,
           CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp) END AS precision_fp,
           CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn) END AS recall_fp,
           CASE WHEN 2 * tp + fp + fn > 0
             THEN (2 * tp * 1000000) // (2 * tp + fp + fn) END AS f1_fp
         FROM cc"""),
    // q168: q49's trigram lang-id replay → confusion counts with
    // window marginals → exact HUGEINT kappa closed form.
    "q168_langid_kappa" ->
      """WITH t AS (SELECT doc_id,
             list_transform(range(1, len(text) - 1), i -> substr(text, i, 3)) AS tg
           FROM documents WHERE len(text) >= 3),
         m AS (SELECT doc_id, len(tg) AS total,
             len(list_filter(tg, x -> list_contains(
               ['the','he ',' th','and','nd ',' an','ing','ng ',' in','ion',
                'on ',' of','of ',' to','to ','ed ','er ',' co','ent',' re'], x))) AS hits
           FROM t),
         pred AS (SELECT doc_id,
                    CASE WHEN hits / total >= 0.05 THEN 'en' ELSE 'und' END AS p
                  FROM m),
         j AS (SELECT d.lang AS tt, pr.p FROM documents d
               JOIN pred pr USING (doc_id)),
         conf AS (SELECT tt, p, COUNT(*) AS n FROM j GROUP BY 1, 2),
         marg AS (SELECT tt, p, n, SUM(n) OVER (PARTITION BY tt) AS r,
                    SUM(n) OVER (PARTITION BY p) AS c FROM conf),
         agg AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN tt = p THEN n ELSE 0 END) AS BIGINT) AS n_agree,
                   SUM(CASE WHEN tt = p THEN CAST(r AS HUGEINT) * c
                     ELSE 0 END) AS src
                 FROM marg)
         SELECT n_rows, n_agree,
           (n_agree * 1000000) // n_rows AS po_fp,
           CAST((src * 1000000) // (CAST(n_rows AS HUGEINT) * n_rows)
             AS BIGINT) AS pe_fp,
           CAST(CAST(n_rows AS HUGEINT) * n_agree - src AS DOUBLE)
             / CAST(CAST(n_rows AS HUGEINT) * n_rows - src AS DOUBLE) AS kappa
         FROM agg""",
    // q169: same scored CTE, global (score, doc_id) rank, exact decile
    // cut, floor-division bin means (scores go negative — `//` floors).
    "q169_calibration" -> (q138ScoredCte + """,
         rk AS (SELECT score_fp, l,
                  row_number() OVER (ORDER BY score_fp, doc_id) AS rk,
                  COUNT(*) OVER () AS nn
                FROM lab),
         bb AS (SELECT ((rk - 1) * 10) // nn + 1 AS bin, score_fp, l FROM rk)
         SELECT bin, COUNT(*) AS n,
           CAST(SUM(CASE WHEN l THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           (CAST(SUM(score_fp) AS BIGINT)
             - ((CAST(SUM(score_fp) AS BIGINT) % COUNT(*) + COUNT(*)) % COUNT(*)))
             // COUNT(*) AS mean_score_fp,
           (CAST(SUM(CASE WHEN l THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
             // COUNT(*) AS pos_rate_fp
         FROM bb GROUP BY 1"""),
    // q170: per-key counts, 1-row totals, top-10 by (count desc, key),
    // exact ppm shares and multiple-of-mean.
    "q170_skew_profile" ->
      """WITH c AS (SELECT COALESCE(user_id, -1) AS key, COUNT(*) AS n_rows
                FROM events GROUP BY 1),
         t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS tot, COUNT(*) AS nk
               FROM c),
         top AS (SELECT key, n_rows, rank FROM (
                   SELECT key, n_rows, row_number() OVER (
                     ORDER BY n_rows DESC, key) AS rank FROM c)
                 WHERE rank <= 10)
         SELECT key, n_rows, rank,
           (n_rows * 1000000) // tot AS share_fp,
           (CAST(SUM(n_rows) OVER (ORDER BY rank) AS BIGINT) * 1000000) // tot
             AS cum_share_fp,
           (n_rows * nk * 1000000) // tot AS x_mean_fp
         FROM top, t""",
    // q171: per-customer DECIMAL cents, per-nation ascending (cents, id)
    // rank, exact HUGEINT Gini closed form in ppm.
    "q171_spend_gini" ->
      """WITH sp AS (SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
           FROM orders GROUP BY 1),
         j AS (SELECT c.c_nationkey AS g, c.c_custkey AS id, sp.cents
               FROM sp JOIN customer c ON c.c_custkey = sp.o_custkey
               WHERE sp.cents >= 0),
         r AS (SELECT g, cents, row_number() OVER (PARTITION BY g
                 ORDER BY cents, id) AS rk FROM j),
         a AS (SELECT g, COUNT(*) AS n_members,
                 CAST(SUM(cents) AS BIGINT) AS total_cents,
                 SUM(CAST(rk AS HUGEINT) * cents) AS rx
               FROM r GROUP BY 1)
         SELECT g AS "group", n_members, total_cents,
           CAST(((2 * rx - (CAST(n_members AS HUGEINT) + 1) * total_cents)
             * 1000000) // (CAST(n_members AS HUGEINT) * total_cents)
             AS BIGINT) AS gini_fp
         FROM a WHERE total_cents > 0""",
    // q172: per-(lang, source) counts, c·ln(c) quantized once per group,
    // integer floor division — the q84 fixed-point ln contract.
    "q172_source_entropy" ->
      """WITH c AS (SELECT lang AS key, source, COUNT(*) AS c
                FROM documents GROUP BY 1, 2),
         t AS (SELECT key, c,
                 CAST(FLOOR(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                   * 1000000.0) AS BIGINT) AS t
               FROM c),
         a AS (SELECT key, CAST(SUM(c) AS BIGINT) AS n_rows,
                 COUNT(*) AS n_groups, CAST(SUM(t) AS BIGINT) AS s
               FROM t GROUP BY 1)
         SELECT key, n_rows, n_groups,
           CAST(FLOOR(ln(CAST(n_rows AS DOUBLE)) * 1000000.0) AS BIGINT)
             - (s // n_rows) AS entropy_fp
         FROM a""",
    // q173: generated frontier/min-merge CTEs per round.
    "q173_bfs_hops" -> bfsOracle(3),
    // q174: 3-gram md5 hashes, window-4 rightmost-min selection replayed
    // with list ops, distinct (pos, hash) pairs.
    "q174_winnow_fingerprints" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS wd FROM documents),
         g AS (SELECT doc_id, list_transform(range(1, len(wd) - 1),
                 i -> wd[i] || ' ' || wd[i+1] || ' ' || wd[i+2]) AS gr
               FROM t),
         h AS (SELECT doc_id,
                 list_transform(gr, s ->
                   CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs,
                 len(gr) AS n
               FROM g WHERE len(gr) >= 1),
         sel AS (SELECT doc_id, CASE WHEN n >= 4 THEN
                   list_transform(range(1, n - 2), i ->
                     {'pos': i + 4 - list_position(list_reverse(hs[i:i+3]),
                        list_min(hs[i:i+3])),
                      'fp': list_min(hs[i:i+3])})
                 ELSE [{'pos': 1 + n - list_position(list_reverse(hs),
                          list_min(hs)),
                        'fp': list_min(hs)}] END AS fps
                 FROM h)
         SELECT DISTINCT doc_id, CAST(f.pos AS BIGINT) AS pos,
           f.fp AS fp_hash
         FROM sel, UNNEST(fps) u(f)""",
    // q175: lead() over (ts, event_id), cents·µs in HUGEINT, truncating
    // division (both engines truncate toward zero).
    "q175_time_weighted" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
         l AS (SELECT user_id, cents, ts,
                 lead(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS nxt
               FROM e),
         i AS (SELECT user_id, cents, nxt - ts AS dur FROM l
               WHERE nxt IS NOT NULL),
         a AS (SELECT user_id, COUNT(*) AS n_intervals,
                 CAST(SUM(dur) AS BIGINT) AS total_us,
                 SUM(CAST(cents AS HUGEINT) * dur) AS cd
               FROM i GROUP BY 1)
         SELECT user_id, n_intervals, total_us,
           CAST(cd // CAST(total_us AS HUGEINT) AS BIGINT) AS twa_cents
         FROM a WHERE total_us > 0""",
    // q176: min/max-of-(ts,id) open/close via ranked windows, exact cents.
    "q176_ohlc_bars" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM events WHERE value IS NOT NULL),
         b AS (SELECT event_type, ts // 86400000000 AS bucket, ts,
                 event_id, cents FROM e),
         agg AS (SELECT event_type, bucket, MAX(cents) AS high_cents,
                   MIN(cents) AS low_cents, COUNT(*) AS n_events
                 FROM b GROUP BY 1, 2),
         o AS (SELECT event_type, bucket, cents AS open_cents FROM (
                 SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                   ORDER BY ts, event_id) AS rn FROM b) WHERE rn = 1),
         c AS (SELECT event_type, bucket, cents AS close_cents FROM (
                 SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                   ORDER BY ts DESC, event_id DESC) AS rn FROM b) WHERE rn = 1)
         SELECT a.event_type, a.bucket, o.open_cents, a.high_cents,
           a.low_cents, c.close_cents, a.n_events
         FROM agg a JOIN o USING (event_type, bucket)
              JOIN c USING (event_type, bucket)""",
    // q177: 2^20-quantized components, lockstep UNNEST positions, exact
    // HUGEINT pair/marginal sums, identical integer→double division tree.
    "q177_embedding_cov" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding,
             x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
           FROM embeddings),
         u AS (SELECT vec_id, UNNEST(q) AS x,
                 UNNEST(range(1, len(q) + 1)) AS i FROM v),
         p AS (SELECT a.i AS di, b.i AS dj, COUNT(*) AS n,
                 SUM(CAST(a.x AS HUGEINT) * b.x) AS sxy
               FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
               GROUP BY 1, 2),
         dm AS (SELECT i, SUM(CAST(x AS HUGEINT)) AS sx FROM u GROUP BY 1)
         SELECT CAST(p.di AS BIGINT) AS dim_i, CAST(p.dj AS BIGINT) AS dim_j,
           p.n AS n,
           CAST(CAST(p.n AS HUGEINT) * p.sxy - da.sx * db.sx AS DOUBLE)
             / CAST(CAST(p.n AS HUGEINT) * p.n AS DOUBLE)
             / 1099511627776.0 AS cov
         FROM p JOIN dm da ON da.i = p.di JOIN dm db ON db.i = p.dj""",
    // q178: the q62 discrete-percentile rank replay gives the cut values;
    // clip, count clips, exact cent sums, truncating mean.
    "q178_winsorized_stats" ->
      """WITH e AS (SELECT event_type, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM events WHERE value IS NOT NULL),
         r AS (SELECT event_type, cents,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY cents, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
               FROM e),
         c AS (SELECT event_type,
                 MAX(CASE WHEN rn = (n * 5 + 99) // 100 THEN cents END) AS lo,
                 MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN cents END) AS hi
               FROM r GROUP BY 1),
         j AS (SELECT e.event_type,
                 CASE WHEN cents < lo THEN lo WHEN cents > hi THEN hi
                   ELSE cents END AS w,
                 cents < lo AS bl, cents > hi AS bh
               FROM e JOIN c USING (event_type))
         SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CASE WHEN bl THEN 1 ELSE 0 END) AS BIGINT) AS n_lo_clipped,
           CAST(SUM(CASE WHEN bh THEN 1 ELSE 0 END) AS BIGINT) AS n_hi_clipped,
           CAST(SUM(w) AS BIGINT) AS win_sum_cents,
           CAST(SUM(w) AS BIGINT) // COUNT(*) AS win_mean_cents
         FROM j GROUP BY 1""",
    // q179: q57-style md5 split replay, distinct purchase converters,
    // identical IEEE z tree over exact counts, HUGEINT ppm lift.
    "q179_ab_test" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events
                WHERE user_id IS NOT NULL),
         sp AS (SELECT user_id,
                  CASE WHEN b < 34 THEN 'A' WHEN b < 67 THEN 'B'
                    ELSE 'C' END AS v
                FROM (SELECT user_id,
                        CAST(('0x' || substr(md5('ab-' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
                      FROM u)),
         cv AS (SELECT user_id FROM (
                  SELECT user_id, COUNT(*) AS np FROM events
                  WHERE event_type = 'purchase' AND user_id IS NOT NULL
                  GROUP BY 1) WHERE np >= 14),
         j AS (SELECT sp.v, cv.user_id IS NOT NULL AS c
               FROM sp LEFT JOIN cv USING (user_id)),
         per AS (SELECT v, COUNT(*) AS n,
                   CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS conv
                 FROM j GROUP BY 1),
         pr AS (SELECT a.v AS variant_a, a.n AS n_a, a.conv AS conv_a,
                  b.v AS variant_b, b.n AS n_b, b.conv AS conv_b
                FROM per a JOIN per b ON a.v < b.v
                WHERE a.n > 0 AND b.n > 0),
         x AS (SELECT *, CAST(conv_a AS DOUBLE) / n_a AS p1,
                 CAST(conv_b AS DOUBLE) / n_b AS p2,
                 CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pp
               FROM pr),
         y AS (SELECT *, pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b) AS se2
               FROM x)
         SELECT variant_a, variant_b, n_a, conv_a, n_b, conv_b,
           CASE WHEN conv_a > 0 THEN
             CAST(((CAST(conv_b AS HUGEINT) * n_a - CAST(conv_a AS HUGEINT) * n_b)
               * 1000000) // (CAST(conv_a AS HUGEINT) * n_b) AS BIGINT) END
             AS lift_fp,
           (p2 - p1) / sqrt(se2) AS z
         FROM y WHERE se2 > 0""",
    // q180: 168-cell hour-of-week rollup, exact DECIMAL ppm index.
    "q180_seasonality" ->
      """WITH e AS (SELECT epoch_us(ts) AS ts,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM events WHERE value IS NOT NULL),
         cell AS (SELECT (ts // 86400000000 + 3) % 7 AS dow,
                    (ts // 3600000000) % 24 AS hour,
                    COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
                  FROM e GROUP BY 1, 2),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
                 CAST(SUM(sum_cents) AS BIGINT) AS tsum FROM cell)
         SELECT dow, hour, n, sum_cents,
           sum_cents // n AS mean_cents,
           CAST((CAST(sum_cents AS HUGEINT) * tn * 1000000)
             // (CAST(n AS HUGEINT) * tsum) AS BIGINT) AS index_fp
         FROM cell, t""",
    // q181: q172's fixed-point entropy replay over per-char rows
    // (substr is character-based in both engines).
    "q181_char_entropy" ->
      """WITH cs AS (SELECT doc_id, list_transform(range(1, len(text) + 1),
                 i -> substr(text, i, 1)) AS cl
               FROM documents),
         ch AS (SELECT doc_id, u.c AS ch FROM cs, UNNEST(cl) u(c)),
         c AS (SELECT doc_id AS key, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
         t AS (SELECT key, c,
                 CAST(FLOOR(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                   * 1000000.0) AS BIGINT) AS t
               FROM c),
         a AS (SELECT key, CAST(SUM(c) AS BIGINT) AS n_rows,
                 COUNT(*) AS n_groups, CAST(SUM(t) AS BIGINT) AS s
               FROM t GROUP BY 1)
         SELECT key, n_rows, n_groups,
           CAST(FLOOR(ln(CAST(n_rows AS DOUBLE)) * 1000000.0) AS BIGINT)
             - (s // n_rows) AS entropy_fp
         FROM a""",
    // q182: q138 scores + source, global and per-source ranks with the
    // unique tiebreaks, ceil rank remap, rank-lookup self-join.
    "q182_quantile_norm" -> (q138ScoredCte + """,
         ss AS (SELECT s.doc_id, s.score_fp, d.source
                FROM sc s JOIN documents d USING (doc_id)),
         rk AS (SELECT source, doc_id, score_fp,
                  row_number() OVER (ORDER BY score_fp, source, doc_id) AS g,
                  row_number() OVER (PARTITION BY source
                    ORDER BY score_fp, doc_id) AS r,
                  COUNT(*) OVER (PARTITION BY source) AS n,
                  COUNT(*) OVER () AS nn
                FROM ss),
         lk AS (SELECT g AS t, score_fp AS norm_fp FROM rk)
         SELECT rk.source, rk.doc_id AS id, rk.score_fp, lk.norm_fp
         FROM rk JOIN lk ON lk.t = (rk.r * rk.nn + rk.n - 1) // rk.n"""),
    // q183: rendezvous argmax via max-of-struct (deterministic shard
    // ties), resize movement grouped from the key assignment table.
    "q183_shard_moves" ->
      """WITH u AS (SELECT DISTINCT user_id AS k FROM events
                WHERE user_id IS NOT NULL),
         e AS (SELECT k, s,
                 CAST(('0x' || substr(md5('shard-' || CAST(s AS VARCHAR) || '-' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) AS h
               FROM u, generate_series(0, 11) t(s)),
         a AS (SELECT k,
                 MAX(CASE WHEN s < 8 THEN {'h': h, 's': s} END) AS f,
                 MAX({'h': h, 's': s}) AS tt
               FROM e GROUP BY 1)
         SELECT shard_from, shard_to, COUNT(*) AS n_keys,
           shard_from <> shard_to AS moved
         FROM (SELECT CAST(f.s AS BIGINT) AS shard_from,
                 CAST(tt.s AS BIGINT) AS shard_to FROM a)
         GROUP BY 1, 2""",
    // q184: lexicographic rank, forward window-3 range join, exact
    // distinct-shingle Jaccard in ppm.
    "q184_sorted_neighbors" ->
      """WITH t0 AS (SELECT doc_id, text,
             row_number() OVER (ORDER BY text, doc_id) AS rk
           FROM documents),
         wd AS (SELECT doc_id, rk, string_split(text, ' ') AS wd FROM t0),
         sh AS (SELECT doc_id, rk,
                 list_distinct(list_transform(range(1, len(wd) - 1),
                   i -> wd[i] || ' ' || wd[i+1] || ' ' || wd[i+2])) AS s
               FROM wd),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 b.rk - a.rk AS gap, a.s AS sa, b.s AS sb
               FROM sh a JOIN sh b ON b.rk > a.rk AND b.rk <= a.rk + 3),
         q AS (SELECT doc_a, doc_b, gap,
                 len(list_intersect(sa, sb)) AS ix,
                 len(list_distinct(list_concat(sa, sb))) AS un
               FROM p)
         SELECT doc_a, doc_b, gap,
           (CAST(ix AS BIGINT) * 1000000) // un AS jaccard_fp
         FROM q WHERE un > 0""",
    // q185: per-user daily panel, spine left join, IGNORE NULLS
    // last/next-known windows, exact integer interpolation line.
    "q185_linear_interp" ->
      """WITH dly AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
           FROM events
           WHERE value IS NOT NULL AND user_id IS NOT NULL AND user_id < 30
           GROUP BY 1, 2),
         bnd AS (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
                 FROM dly GROUP BY 1),
         sp AS (SELECT user_id, UNNEST(generate_series(mn, mx)) AS day
                FROM bnd),
         j AS (SELECT sp.user_id, sp.day, dly.y FROM sp
               LEFT JOIN dly ON dly.user_id = sp.user_id AND dly.day = sp.day),
         wnd AS (SELECT user_id, day, y,
                  last_value(CASE WHEN y IS NOT NULL
                      THEN {'t': day, 'y': y} END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
                  first_value(CASE WHEN y IS NOT NULL
                      THEN {'t': day, 'y': y} END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
                FROM j)
         SELECT user_id, day,
           CASE WHEN y IS NOT NULL THEN y
             ELSE (p.y * (n.t - day) + n.y * (day - p.t)) // (n.t - p.t)
           END AS y_fp,
           y IS NULL AS interpolated
         FROM wnd WHERE p IS NOT NULL AND n IS NOT NULL""",
    // q186: category counts + 1-row global rate, exact LOO formula.
    "q186_target_encode" ->
      """WITH b AS (SELECT source AS category, doc_id AS id,
             lang = 'en' AS label FROM documents),
         c AS (SELECT category, COUNT(*) AS ng,
                 CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS cg
               FROM b GROUP BY 1),
         g AS (SELECT (CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
                 * 1000000) // COUNT(*) AS rate FROM b)
         SELECT b.id, b.category, b.label,
           ((cg - (CASE WHEN label THEN 1 ELSE 0 END)) * 1000000
             + 10 * rate) // (ng - 1 + 10) AS enc_fp
         FROM b JOIN c USING (category), g""",
    // q187: generated S-curve grid over the q70 pair CTE.
    "q187_lsh_tuning" -> lshTuningOracle(lshGrid),
    // q188: dense marginal-cross grid (observed-zero cells contribute
    // r·c/N), num² in doubles, per-cell term quantized once.
    "q188_chi_squared" ->
      """WITH conf AS (SELECT lang AS a, source AS b, COUNT(*) AS n
                FROM documents GROUP BY 1, 2),
         ra AS (SELECT a, CAST(SUM(n) AS BIGINT) AS r FROM conf GROUP BY 1),
         cb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS c FROM conf GROUP BY 1),
         dense AS (SELECT g.a, g.b, g.r, g.c, COALESCE(conf.n, 0) AS n
                   FROM (SELECT ra.a, ra.r, cb.b, cb.c
                         FROM ra CROSS JOIN cb) g
                   LEFT JOIN conf ON conf.a = g.a AND conf.b = g.b),
         m AS (SELECT a, b, n, r, c, SUM(n) OVER () AS t FROM dense),
         x AS (SELECT a, b, n,
                 CAST(CAST(n AS HUGEINT) * t - CAST(r AS HUGEINT) * c
                   AS DOUBLE) AS num,
                 CAST(CAST(t AS HUGEINT) * r * c AS DOUBLE) AS den
               FROM m),
         y AS (SELECT a, b, n,
                 CAST(FLOOR(num * num / den * 1000000.0) AS BIGINT) AS term
               FROM x)
         SELECT CAST(SUM(n) AS BIGINT) AS n_rows, COUNT(*) AS n_cells,
           (COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS dof,
           CAST(SUM(term) AS BIGINT) AS chi2_fp
         FROM y""",
    // q189: the identical Wilson IEEE tree (z spelled as 1.96 * 1.96 so
    // both engines bake the same double product).
    "q189_wilson_bounds" ->
      """WITH g AS (SELECT source AS "group", COUNT(*) AS n,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS positives
           FROM documents GROUP BY 1),
         x AS (SELECT *, CAST(positives AS DOUBLE) / n AS p,
                 1.0 + (1.96 * 1.96) / n AS den,
                 CAST(positives AS DOUBLE) / n
                   + (1.96 * 1.96) / (2.0 * n) AS ctr,
                 1.96 * sqrt(CAST(positives AS DOUBLE) / n
                     * (1.0 - CAST(positives AS DOUBLE) / n) / n
                   + (1.96 * 1.96) / (4.0 * n * n)) AS rad
               FROM g)
         SELECT "group", n, positives,
           (positives * 1000000) // n AS rate_fp,
           (ctr - rad) / den AS wilson_lo,
           (ctr + rad) / den AS wilson_hi
         FROM x""",
    // q190: the oracle knows only the checkerboard generation params —
    // block luma means from the closed-form even-cell count of each
    // [x0,x1)×[y0,y1) rectangle — and must match what the real PNG
    // decode + integer pixel loop produced bit-for-bit.
    "q190_image_ahash" -> imageAHashOracle,
    // q192: q190's arithmetic hash replay, grouped into exact-hash
    // buckets (hamming-0 perceptual duplicates).
    "q192_ahash_buckets" ->
      (s"""WITH ah AS ($imageAHashOracle)
         SELECT ahash, COUNT(*) AS n_images, MIN(media_id) AS keeper_id
         FROM ah GROUP BY 1"""),
    // q193: the same GROUPING SETS text runs in both engines; the
    // grouping bitmask conventions agree (first argument = high bit).
    "q193_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
           (l_returnflag), ())""",
    // q194: the salted join's contract IS the plain join — the oracle
    // never sees the salt.
    "q194_salted_join" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events
                WHERE user_id IS NOT NULL),
         sp AS (SELECT user_id,
                  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'validation'
                    ELSE 'test' END AS split
                FROM (SELECT user_id,
                        CAST(('0x' || substr(md5('split-' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
                      FROM u))
         SELECT e.event_id, e.user_id, sp.split
         FROM events e JOIN sp ON sp.user_id = e.user_id""",
    // q195: md5 network-delay arrival replay, running-max event time in
    // (arrival, event_id) order per stream.
    "q195_late_events" ->
      """WITH e AS (SELECT event_type AS stream, event_id,
             epoch_us(ts) AS ts,
             epoch_us(ts) + CAST(('0x' || substr(md5('net-' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 7200000000 AS arr
           FROM events),
         l AS (SELECT stream,
                 MAX(ts) OVER (PARTITION BY stream ORDER BY arr, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ts
                   AS late
               FROM e)
         SELECT stream, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN late > 3600000000 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_late,
           MAX(late) AS max_lateness_us,
           (CAST(SUM(CASE WHEN late > 3600000000 THEN 1 ELSE 0 END)
             AS BIGINT) * 1000000) // COUNT(*) AS late_fp
         FROM l GROUP BY 1""",
    // q196: one LEFT JOIN against distinct dimension keys per relation;
    // NULL fact keys are rows, never orphans.
    "q196_fk_orphans" -> {
      val rels = Seq(
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier",
          "s_suppkey"))
      rels.map { case (name, fact, fk, dim, dk) =>
        s"""SELECT '$name' AS relation, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN f.$fk IS NOT NULL AND d.$dk IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
           (CAST(SUM(CASE WHEN f.$fk IS NOT NULL AND d.$dk IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // COUNT(*)
             AS orphan_fp
         FROM $fact f LEFT JOIN (SELECT DISTINCT $dk FROM $dim) d
           ON d.$dk = f.$fk"""
      }.mkString("\n         UNION ALL ")
    },
    // q197: first signup, first subsequent purchase, md5-split variants,
    // q62's exact discrete-percentile rank replay.
    "q197_conversion_latency" ->
      """WITH s1 AS (SELECT user_id, MIN(epoch_us(ts)) AS s_ts FROM events
               WHERE event_type = 'signup' AND user_id IS NOT NULL
               GROUP BY 1),
         p1 AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_ts
                FROM events e JOIN s1 ON s1.user_id = e.user_id
                WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s1.s_ts
                GROUP BY 1),
         lat AS (SELECT p1.user_id, p1.p_ts - s1.s_ts AS latency
                 FROM p1 JOIN s1 USING (user_id)),
         sp AS (SELECT user_id, latency,
                  CASE WHEN b < 34 THEN 'A' WHEN b < 67 THEN 'B'
                    ELSE 'C' END AS split
                FROM (SELECT user_id, latency,
                        CAST(('0x' || substr(md5('ab-' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
                      FROM lat)),
         r AS (SELECT split, latency,
                 row_number() OVER (PARTITION BY split
                   ORDER BY latency, user_id) AS rn,
                 COUNT(*) OVER (PARTITION BY split) AS n
               FROM sp)
         SELECT split,
           MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN latency END) AS p50,
           MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN latency END) AS p90
         FROM r GROUP BY 1""",
    // q198: idf_fp quantized once per shingle, HUGEINT idf² sums, one
    // IEEE division per pair.
    "q198_weighted_jaccard" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                       WHERE len(string_split(text, ' ')) >= 2),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS s
                FROM docs, UNNEST(range(1, len(w))) t(i)),
         dfx AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
         wt AS (SELECT s,
                  CAST(FLOOR(ln(CAST((SELECT COUNT(*) FROM docs) AS DOUBLE) / df)
                    * 1000000.0) AS BIGINT) AS idf
                FROM dfx),
         ps AS (SELECT sh.doc_id, sh.s, wt.idf FROM sh JOIN wt USING (s)),
         dw AS (SELECT doc_id, CAST(SUM(idf * idf) AS BIGINT) AS w2
                FROM ps GROUP BY 1),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS n_shared,
                     CAST(SUM(a.idf * a.idf) AS BIGINT) AS dot
                   FROM ps a JOIN ps b
                     ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT doc_a, doc_b, n_shared, dot,
           CAST(dot AS DOUBLE)
             / CAST(da.w2 + db.w2 - dot AS DOUBLE) AS wjaccard
         FROM inter
         JOIN dw da ON da.doc_id = doc_a JOIN dw db ON db.doc_id = doc_b
         WHERE CAST(dot AS DOUBLE)
           / CAST(da.w2 + db.w2 - dot AS DOUBLE) >= 0.3""",
    // q199: q112's lead() transition stream through the q172 entropy.
    "q199_transition_entropy" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
             event_id FROM events WHERE user_id IS NOT NULL),
         o AS (SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS to_type
               FROM e),
         c AS (SELECT from_type AS key, to_type, COUNT(*) AS c FROM o
               WHERE to_type IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT key, c,
                 CAST(FLOOR(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                   * 1000000.0) AS BIGINT) AS t
               FROM c),
         a AS (SELECT key, CAST(SUM(c) AS BIGINT) AS n_rows,
                 COUNT(*) AS n_groups, CAST(SUM(t) AS BIGINT) AS s
               FROM t GROUP BY 1)
         SELECT key, n_rows, n_groups,
           CAST(FLOOR(ln(CAST(n_rows AS DOUBLE)) * 1000000.0) AS BIGINT)
             - (s // n_rows) AS entropy_fp
         FROM a""",
    // q200: one count branch per dedup family over the existing pair/
    // group formulations (the ahash branch nests the q190 replay).
    "q200_dedup_summary" ->
      (s"""WITH docs2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                       WHERE len(string_split(text, ' ')) >= 2),
         sh2 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS s
                FROM docs2, UNNEST(range(1, len(w))) t(i)),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS ns
                   FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT doc_a, doc_b FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE ns / (sa.n + sb.n - ns) >= 0.5),
         cp AS (SELECT doc_a, doc_b FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE ns / least(sa.n, sb.n) >= 0.8),
         tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents),
         hh AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
                FROM tok),
         bits AS (SELECT doc_id, b, SUM(2 * ((h >> b) & 1) - 1) AS s
                  FROM hh, UNNEST(range(0, 60)) t(b) GROUP BY 1, 2),
         shh AS (SELECT doc_id,
                  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                    ELSE 0 END) AS BIGINT) AS simhash
                FROM bits GROUP BY doc_id),
         sp AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
                FROM shh x JOIN shh y ON x.doc_id < y.doc_id
                WHERE bit_count(xor(x.simhash, y.simhash)) <= 3),
         ex AS (SELECT md5(lower(trim(text))) AS ch, COUNT(*) AS n
                FROM documents GROUP BY 1 HAVING COUNT(*) >= 2),
         ahg AS (SELECT ahash, COUNT(*) AS n FROM ($imageAHashOracle)
                 GROUP BY 1 HAVING COUNT(*) >= 2)
         SELECT 'exact' AS method,
           CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_docs FROM ex
         UNION ALL SELECT 'simhash', (SELECT COUNT(*) FROM sp),
           (SELECT COUNT(DISTINCT d) FROM (SELECT doc_a AS d FROM sp
             UNION ALL SELECT doc_b FROM sp))
         UNION ALL SELECT 'jaccard', (SELECT COUNT(*) FROM jp),
           (SELECT COUNT(DISTINCT d) FROM (SELECT doc_a AS d FROM jp
             UNION ALL SELECT doc_b FROM jp))
         UNION ALL SELECT 'containment', (SELECT COUNT(*) FROM cp),
           (SELECT COUNT(DISTINCT d) FROM (SELECT doc_a AS d FROM cp
             UNION ALL SELECT doc_b FROM cp))
         UNION ALL SELECT 'ahash',
           CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT),
           CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM ahg"""),
    // q201: exact count + the q100-style register replay at p=8 over the
    // same user-day values; signed ppm error (both engines truncate).
    "q201_hll_calibration" -> hllCalibrationOracle(8),
    // q202: per-customer first month / order count / DECIMAL cents, one
    // cohort rollup.
    "q202_repeat_cohorts" ->
      """WITH pc AS (SELECT o_custkey,
             MIN(CAST(year(CAST(o_orderdate AS DATE)) * 12
               + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT))
               AS cohort_month,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
           FROM orders GROUP BY 1)
         SELECT cohort_month, COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat,
           (CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000) // COUNT(*) AS repeat_fp,
           CAST(SUM(cents) AS BIGINT) AS total_cents
         FROM pc GROUP BY 1""",
    // q203: RANK keeps ties — the set of rows at rnk<=3 is deterministic
    // without a tiebreaker.
    "q203_topk_with_ties" ->
      """WITH dly AS (SELECT event_type AS series,
             epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y_fp
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2)
         SELECT series, day, y_fp, rnk FROM (
           SELECT series, day, y_fp,
             CAST(rank() OVER (PARTITION BY series ORDER BY y_fp DESC)
               AS BIGINT) AS rnk
           FROM dly) WHERE rnk <= 3""",
    // q204: lag-flows rebuild the level; running cum/peak windows share
    // one sort; exact long drawdown.
    "q204_max_drawdown" ->
      """WITH dly AS (SELECT event_type AS series,
             epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
         f AS (SELECT series, day,
                 y - COALESCE(lag(y) OVER (PARTITION BY series
                   ORDER BY day), 0) AS flow
               FROM dly),
         c AS (SELECT series, day, flow,
                 CAST(SUM(flow) OVER (PARTITION BY series ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
               FROM f),
         p AS (SELECT series, flow, cum,
                 MAX(cum) OVER (PARTITION BY series ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
               FROM c)
         SELECT series, COUNT(*) AS n_points,
           CAST(SUM(flow) AS BIGINT) AS final_cents,
           MAX(peak) AS peak_cents,
           MAX(peak - cum) AS max_drawdown_cents
         FROM p GROUP BY 1""",
    // q205: each delta version replays relationally — v0 = first append
    // batch, v1 = both append batches, v2 = the rewrite's %2 rows.
    "q205_delta_log_roundtrip" ->
      """SELECT event_id, epoch_us(ts) AS event_ts_us, value,
           CAST(0 AS BIGINT) AS delta_version
         FROM events WHERE event_id % 3 = 0
         UNION ALL
         SELECT event_id, epoch_us(ts) AS event_ts_us, value,
           CAST(1 AS BIGINT) AS delta_version
         FROM events WHERE event_id % 3 IN (0, 1)
         UNION ALL
         SELECT event_id, epoch_us(ts) AS event_ts_us, value,
           CAST(2 AS BIGINT) AS delta_version
         FROM events WHERE event_id % 2 = 0""",
    // q206: current state after the hand-authored log = file b (%4=1,
    // survives) plus file c (%4=2, added in commit 1); file a was removed.
    "q206_delta_external_read" ->
      """SELECT event_id, epoch_us(ts) AS event_ts_us, value
         FROM events WHERE event_id % 4 IN (1, 2)""",
    // q207: the DIB fixture's per-pixel channel formula summed over the
    // (x, y) grid per frame — pure modular arithmetic, no codec needed.
    "q207_video_demux" ->
      """WITH p AS (SELECT doc_id,
             8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h,
             2 + doc_id % 4 AS n FROM documents),
         g AS (SELECT doc_id, w, h, n, f.f AS f, x.x AS x, y.y AS y
               FROM p, UNNEST(range(0, n)) f(f),
                    UNNEST(range(0, w)) x(x), UNNEST(range(0, h)) y(y))
         SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
           CAST(n AS INTEGER) AS n_frames, CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(SUM((doc_id*7 + 3*f + 5*x + 3*y) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((doc_id*11 + 5*f + 2*x + 7*y) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((doc_id*13 + 7*f + 4*x + 1*y) % 256) AS BIGINT) AS sum_b
         FROM g GROUP BY doc_id, f, n, w, h""",
    // q208: q161's per-column branches with the q100 register replay at
    // p=8 (m=256, rho = 53 − bitlen(h >> 8)) instead of COUNT(DISTINCT),
    // plus the small-range linear-counting switch via the SAME generated
    // integer LUT the Spark estimator embeds (no query-time libm on
    // either engine).
    "q208_profile_approx" -> {
      val m = 256L
      val alphaFp240 = (7213L * m * m * m / (10000L * m + 10790L)) * (1L << 40)
      val lutSql = graft.ml.Sketches.linearCountLut(8).mkString("[", ", ", "]")
      val branches = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "price_cents", "order_date").map { c =>
        s"""SELECT '$c' AS column_name, n_rows, n_nulls,
           CAST(CASE WHEN pr = 0 THEN 0
             WHEN $alphaFp240 //
                 greatest(ps + (256 - pr) * 1099511627776, 1) <= 640
               AND pr < 256
               THEN list_extract($lutSql, CAST(256 - pr AS INTEGER) + 1)
             ELSE $alphaFp240 //
               greatest(ps + (256 - pr) * 1099511627776, 1) END AS BIGINT)
             AS est_distinct,
           min_value, max_value
         FROM (SELECT COUNT(*) AS n_rows,
                 CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nulls,
                 CAST(MIN($c) AS VARCHAR) AS min_value,
                 CAST(MAX($c) AS VARCHAR) AS max_value FROM p) b
         CROSS JOIN
           (SELECT COALESCE(SUM(CAST(1099511627776 AS BIGINT) >> max_rho), 0)
                     AS ps,
                   COUNT(*) AS pr
            FROM (SELECT h & 255 AS bucket,
                    MAX(53 - length(ltrim(bin(h >> 8), '0'))) AS max_rho
                  FROM (SELECT CAST(('0x' || substr(md5('hll-' ||
                          CAST($c AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                        FROM p WHERE $c IS NOT NULL) hh
                  GROUP BY 1) rr) g"""
      }
      """WITH p AS MATERIALIZED (SELECT o_orderkey, o_custkey, o_orderstatus,
             o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_cents,
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date
           FROM orders)
         """ + branches.mkString("\n         UNION ALL ")
    },
    // q191: sample formula replay, 32-sample frames, lead() crossings.
    "q191_audio_frames" -> audioFramesOracle,
  )

  /** The q190/q192 arithmetic aHash replay (see the q190 comment). */
  private val imageAHashOracle: String =
      """WITH p AS (SELECT doc_id, 8 + doc_id % 40 AS w, 8 + doc_id % 23 AS h,
             ((doc_id*7) % 256 + (doc_id*11) % 256 + (doc_id*13) % 256) // 3 AS l1,
             ((doc_id*17) % 256 + (doc_id*19) % 256 + (doc_id*23) % 256) // 3 AS l2
           FROM documents),
         g AS (SELECT p.*, i, j,
                 (i * w) // 8 AS x0, ((i+1) * w) // 8 AS x1,
                 (j * h) // 8 AS y0, ((j+1) * h) // 8 AS y1
               FROM p, generate_series(0, 7) a(i), generate_series(0, 7) b(j)),
         m AS (SELECT doc_id, w, h, i, j, x1 - x0 AS bw, y1 - y0 AS bh,
                 CASE WHEN (x0 + y0) % 2 = 0 THEN (x1 - x0 + 1) // 2
                   ELSE (x1 - x0) // 2 END AS ax, l1, l2
               FROM g),
         mm AS (SELECT doc_id, w, h, i, j,
                 ax * ((bh + 1) // 2) + (bw - ax) * (bh // 2) AS ne,
                 bw * bh AS np, l1, l2
               FROM m),
         mean AS (SELECT doc_id, w, h, i * 8 + j AS bit,
                   (ne * l1 + (np - ne) * l2) // np AS bm
                 FROM mm),
         gm AS (SELECT doc_id, CAST(SUM(bm) AS BIGINT) // 64 AS gmean
                FROM mean GROUP BY 1)
         SELECT mean.doc_id AS media_id, CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(SUM(CASE WHEN bm > gmean THEN
             CASE WHEN bit = 63 THEN -9223372036854775807 - 1
               ELSE (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) END
             ELSE 0 END) AS BIGINT) AS ahash,
           CAST(SUM(CASE WHEN bm > gmean THEN 1 ELSE 0 END) AS BIGINT)
             AS n_set_bits
         FROM mean JOIN gm USING (doc_id) GROUP BY 1, 2, 3"""

  /** The q191 oracle: sample-formula replay, 32-sample frames. */
  private val audioFramesOracle: String =
      """WITH d AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
         s AS (SELECT doc_id, i, ((doc_id*31 + i*7) % 2003) - 1001 AS v
               FROM d, generate_series(0, 127) t(i) WHERE i < n),
         f AS (SELECT doc_id, i // 32 AS frame_idx, i % 32 AS pos, v,
                 lead(v) OVER (PARTITION BY doc_id ORDER BY i) AS nv
               FROM s)
         SELECT doc_id AS media_id, frame_idx, COUNT(*) AS n_samples,
           CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS energy,
           CAST(SUM(CASE WHEN pos < 31 AND nv IS NOT NULL AND v * nv < 0
             THEN 1 ELSE 0 END) AS BIGINT) AS n_crossings
         FROM f GROUP BY 1, 2"""

  /** q201's generated oracle: exact distinct + the q100/q165 register
    * estimator replay at parameter `p` over per-type user-day values.
    */
  private def hllCalibrationOracle(p: Int): String = {
    val m = 1L << p
    val alphaFp = 7213L * m * m * m / (10000L * m + 10790L)
    val num = alphaFp * (1L << 40)
    val pow40 = 1L << 40
    s"""WITH e AS (SELECT event_type,
             CAST(user_id AS VARCHAR) || '-' ||
               CAST(epoch_us(ts) // 86400000000 AS VARCHAR) AS ud
           FROM events WHERE user_id IS NOT NULL),
         ex AS (SELECT event_type AS "group",
                  COUNT(DISTINCT ud) AS exact_distinct FROM e GROUP BY 1),
         h AS (SELECT event_type,
                 CAST(('0x' || substr(md5('hll-' || ud), 1, 15)) AS BIGINT) AS h
               FROM e),
         r AS (SELECT event_type, h & ${m - 1} AS bucket,
                 MAX(${61 - p} - length(ltrim(bin(h >> $p), '0'))) AS max_rho
               FROM h GROUP BY 1, 2),
         g AS (SELECT event_type, SUM(CAST($pow40 AS BIGINT) >> max_rho) AS ps,
                 COUNT(*) AS pr FROM r GROUP BY 1),
         est AS (SELECT event_type AS "group",
                   CAST($num // greatest(ps + ($m - pr) * $pow40, 1) AS BIGINT)
                     AS est_distinct
                 FROM g)
         SELECT ex."group", exact_distinct, est_distinct,
           ((est_distinct - exact_distinct) * 1000000) // exact_distinct
             AS err_fp
         FROM ex JOIN est USING ("group")"""
  }

  /** q173's generated BFS oracle: one frontier-expansion + min-merge CTE
    * pair per round — the operator's exact loop.
    */
  private def bfsOracle(rounds: Int): String = {
    val b = new StringBuilder(
      """WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         d0 AS (SELECT DISTINCT l_partkey AS node, 0 AS hops FROM lineitem
                WHERE l_partkey % 97 = 0)""")
    for (i <- 1 to rounds) {
      b.append(s""",
         d$i AS (SELECT node, MIN(hops) AS hops FROM (
                   SELECT node, hops FROM d${i - 1}
                   UNION ALL
                   SELECT e.dst AS node, f.hops + 1 AS hops
                   FROM d${i - 1} f JOIN e ON f.node = e.src
                   WHERE f.hops = ${i - 1}) GROUP BY 1)""")
    }
    b.append(s"\n         SELECT node, CAST(hops AS BIGINT) AS hops FROM d$rounds")
    b.toString
  }

  /** q187's generated oracle: the q70 exact-pair query as a materialized
    * CTE, then one branch per grid cell with the SAME left-associated
    * multiplication chains the operator unrolls (never libm pow).
    */
  private def lshTuningOracle(grid: Seq[(Int, Int)]): String = {
    def chain(e0: String, e: Int): String =
      (1 until e).foldLeft(e0)((acc, _) => s"($acc * $e0)")
    val cells = grid.map { case (b, r) =>
      val p = s"(1.0 - ${chain(s"(1.0 - ${chain("jaccard", r)})", b)})"
      s"""SELECT CAST($b AS BIGINT) AS bands,
         CAST($r AS BIGINT) AS rows_per_band,
         CAST(FLOOR($p * 1000000000.0) AS BIGINT) AS pfp FROM pj"""
    }.mkString("\n         UNION ALL ")
    s"""WITH pj AS MATERIALIZED (
         $jaccardPairsOracle
         ), u AS ($cells)
         SELECT bands, rows_per_band, COUNT(*) AS n_pairs,
           CAST(SUM(pfp) AS BIGINT) // COUNT(*) AS recall_fp
         FROM u GROUP BY 1, 2"""
  }

  /** The q138 hashed-linear score replay joined with the lang=='en'
    * label — shared head of the q167/q169 oracles.
    */
  private val q138ScoredCte: String =
    """WITH f AS (
           SELECT doc_id, u.w AS f FROM (
             SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             UNNEST(ws) u(w) WHERE u.w <> ''
           UNION ALL
           SELECT doc_id, w[i] || ' ' || w[i+1] FROM (
             SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(range(1, len(w))) t(i)),
         b AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(f), 1, 15)) AS BIGINT) % 65536 AS bkt
               FROM f),
         wt AS (SELECT i AS bkt,
                 CAST(('0x' || substr(md5('w-' || CAST(i AS VARCHAR)), 1, 15))
                   AS BIGINT) % 2000001 - 1000000 AS wf
                FROM generate_series(0, 65535) s(i)),
         sc AS (SELECT doc_id, CAST(SUM(wf) AS BIGINT) AS score_fp
                FROM b JOIN wt USING (bkt) GROUP BY doc_id),
         lab AS (SELECT s.doc_id, s.score_fp, d.lang = 'en' AS l
                 FROM sc s JOIN documents d USING (doc_id))"""
}
