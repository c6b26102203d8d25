package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.{Q, QueryModule}
import graft.catalog.Tables.t

/** Round-10 corpus-analytics operators (SURVEY.md §2.12 X108-X110):
  * iterative link-graph centrality (the crawl-prioritization /
  * source-authority signal), robust per-source outlier statistics
  * (median + MAD — the clipping pass that a mean/stddev gate gets
  * wrong on heavy-tailed length distributions), and per-source
  * Kolmogorov-Smirnov distribution drift vs the corpus (the monitoring
  * gate that catches a source whose length profile silently shifts
  * between crawls).
  *
  * Exactness scheme: every statistic is integer arithmetic (micro /
  * ppm floor-quantized) over non-negative values, so Spark `div` and
  * DuckDB `//` agree term-for-term at any scale; no float mean or
  * stddev appears anywhere.
  */
object AnalyticsQueries extends QueryModule {


  /** Whole-partition frame per source (q133 convention). */
  private def bySource = Window.partitionBy(col("source"))

  def qs: Seq[Q] = Seq(

    // link-graph PageRank (3 unrolled iterations, damping 0.85, integer
    // micro-units): the source-authority signal a crawler uses to rank
    // frontier hosts. The host graph derives deterministically from the
    // corpus (src = doc_id % 32, dst = (7*doc_id + 3) % 32 — 7 is a
    // unit mod 32, so every host both emits and receives and no
    // dangling-mass correction is needed; 6k+3 is odd, so no self-loops
    // exist by construction). Scale shape: the corpus collapses to the
    // <= 32x31-row weighted edge registry in ONE map-side-combined agg;
    // the 3 rank rounds then run on the driver below the
    // CorpusOps.boundedRows gate (q193-family two-path design), with
    // the node-keyed BSP rounds unchanged above the cap (a 10^9-host
    // registry). Exactness: rank in integer micro-units; each edge
    // contributes (rank*w) div out_w (floor BEFORE the sum —
    // order-independent), and rank' = 150000 + (85*in) div 100. All
    // values non-negative, so div and // agree.
    Q("q139_link_pagerank", (s, d) => {
      import s.implicits._
      val edges = t(s, d, "documents")
        .select(($"doc_id" % 32).as("src"), (($"doc_id" * 7 + 3) % 32).as("dst"))
        .filter($"src" =!= $"dst")
        .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      CorpusOps.boundedRows(edges) match {
        case Some(rows) =>
          val e = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          val ow = e.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
          var rk: Map[Long, Long] = ow.keySet.map(n => n -> 1000000L).toMap
          (1 to 3).foreach { _ =>
            val cin = e.map(t => t._2 -> (rk(t._1) * t._3) / ow(t._1))
              .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
            rk = ow.keySet
              .map(n => n -> (150000L + 85L * cin.getOrElse(n, 0L) / 100L))
              .toMap
          }
          ow.keySet.toSeq.map(n => (n, ow(n), rk(n)))
            .toDF("node", "out_weight", "rank_micro")
        case None =>
          val ep = edges // boundedRows left it persisted on the None path
          val outw = ep.groupBy($"src").agg(sum($"w").as("ow"))
          val e = ep.join(outw, "src")
          val nodes = outw.select($"src".as("node"), $"ow")
          val r0 = nodes.select($"node", lit(1000000L).as("r"))
          val r3 = (1 to 3).foldLeft(r0) { (r, _) =>
            val in = e.join(r.withColumnRenamed("node", "src"), "src")
              .select($"dst", expr("(r * w) div ow").as("c"))
              .groupBy($"dst").agg(sum($"c").as("cin"))
            nodes.join(in.withColumnRenamed("dst", "node"),
                Seq("node"), "left_outer")
              .select($"node",
                (lit(150000L) + expr("(85 * coalesce(cin, 0L)) div 100"))
                  .as("r"))
          }
          r3.join(nodes, "node")
            .select($"node", $"ow".as("out_weight"), $"r".as("rank_micro"))
      }
    }, Some("""
      WITH ed AS (SELECT doc_id % 32 AS src, (doc_id * 7 + 3) % 32 AS dst
                  FROM documents),
      e AS (SELECT src, dst, count(*) AS w FROM ed WHERE src <> dst
            GROUP BY 1, 2),
      o AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY 1),
      r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM o),
      i1 AS (SELECT e.dst, CAST(sum((r.r * e.w) // o.ow) AS BIGINT) AS cin
             FROM e JOIN o USING (src) JOIN r0 r ON r.node = e.src GROUP BY 1),
      r1 AS (SELECT o.src AS node,
               CAST(150000 + (85 * coalesce(i1.cin, 0)) // 100 AS BIGINT) AS r
             FROM o LEFT JOIN i1 ON i1.dst = o.src),
      i2 AS (SELECT e.dst, CAST(sum((r.r * e.w) // o.ow) AS BIGINT) AS cin
             FROM e JOIN o USING (src) JOIN r1 r ON r.node = e.src GROUP BY 1),
      r2 AS (SELECT o.src AS node,
               CAST(150000 + (85 * coalesce(i2.cin, 0)) // 100 AS BIGINT) AS r
             FROM o LEFT JOIN i2 ON i2.dst = o.src),
      i3 AS (SELECT e.dst, CAST(sum((r.r * e.w) // o.ow) AS BIGINT) AS cin
             FROM e JOIN o USING (src) JOIN r2 r ON r.node = e.src GROUP BY 1),
      r3 AS (SELECT o.src AS node,
               CAST(150000 + (85 * coalesce(i3.cin, 0)) // 100 AS BIGINT) AS r
             FROM o LEFT JOIN i3 ON i3.dst = o.src)
      SELECT r3.node, o.ow AS out_weight, r3.r AS rank_micro
      FROM r3 JOIN o ON o.src = r3.node""")),

    // robust per-source outlier statistics: exact discrete median + MAD
    // (median absolute deviation) of the token count, and the number of
    // docs beyond 5 MADs — the heavy-tail-safe clipping gate (a
    // mean/stddev gate is itself dragged by the outliers it should
    // catch). Discrete definitions (lower median: min v with
    // 2*cum(v) >= n) keep everything integer — no engine float paths.
    // Scale shape: both cumulative windows run over DISTINCT
    // (source, value) rows — bounded by the token-count DOMAIN (q110
    // argument), not the corpus; the med/MAD frames are registry-sized
    // equi-joins; the final agg is map-side combined.
    Q("q142_robust_outliers", (s, d) => {
      import s.implicits._
      val lens = t(s, d, "documents").select($"source",
        TextOps.tokenCount($"text").cast("long").as("v"))
      def lowerMedian(df: org.apache.spark.sql.DataFrame, vc: String) = {
        val wCum = Window.partitionBy($"source").orderBy(col(vc).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df.groupBy($"source", col(vc)).agg(count(lit(1)).as("k"))
          .withColumn("cum", sum($"k").over(wCum))
          .withColumn("n", sum($"k").over(bySource))
          .filter($"cum" * 2 >= $"n")
          .groupBy($"source")
          .agg(min(col(vc)).as("med"), max($"n").as("n_docs"))
      }
      val med = lowerMedian(lens, "v")
      val dev = lens.join(med, "source")
        .select($"source", $"n_docs", $"med", abs($"v" - $"med").as("dev"))
      val mad = lowerMedian(dev.select($"source", $"dev"), "dev")
        .select($"source", $"med".as("mad"))
      dev.join(mad, "source")
        .groupBy($"source")
        .agg(max($"n_docs").as("n_docs"), max($"med").as("med_toks"),
          max($"mad").as("mad_toks"),
          sum(when($"dev" > greatest($"mad", lit(1L)) * 5, 1L).otherwise(0L))
            .as("n_outliers"))
    }, Some("""
      WITH l AS (SELECT source,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS v
                 FROM documents),
      c AS (SELECT source, v, count(*) AS k FROM l GROUP BY 1, 2),
      m AS (SELECT source, min(v) AS med, max(n) AS n_docs FROM (
              SELECT source, v,
                sum(k) OVER (PARTITION BY source ORDER BY v ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum,
                sum(k) OVER (PARTITION BY source) AS n
              FROM c) WHERE cum * 2 >= n GROUP BY 1),
      dv AS (SELECT l.source, m.n_docs, m.med, abs(l.v - m.med) AS dev
             FROM l JOIN m USING (source)),
      dc AS (SELECT source, dev, count(*) AS k FROM dv GROUP BY 1, 2),
      md AS (SELECT source, min(dev) AS mad FROM (
              SELECT source, dev,
                sum(k) OVER (PARTITION BY source ORDER BY dev ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum,
                sum(k) OVER (PARTITION BY source) AS n
              FROM dc) WHERE cum * 2 >= n GROUP BY 1)
      SELECT dv.source, CAST(max(dv.n_docs) AS BIGINT) AS n_docs,
        CAST(max(dv.med) AS BIGINT) AS med_toks,
        CAST(max(md.mad) AS BIGINT) AS mad_toks,
        CAST(sum(CASE WHEN dv.dev > greatest(md.mad, 1) * 5 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_outliers
      FROM dv JOIN md USING (source) GROUP BY 1""")),

    // per-source Kolmogorov-Smirnov drift vs the corpus: the max
    // CDF gap (in integer ppm) between each source's token-count
    // distribution and the corpus-wide one — the distribution-shift
    // monitor run between crawls (a source whose KS jumps changed its
    // template, truncation, or boilerplate profile even if its mean
    // moved nowhere). Both CDFs are evaluated on the corpus-wide
    // DISTINCT value grid — the sup of |F_s - F_g| over the reals is
    // attained at a jump point of either CDF, and the global grid
    // contains them all. Exactness: each CDF value is floor-quantized
    // to ppm BEFORE the difference (cum*10^6 div n stays < 2^63 at ANY
    // corpus size — the cross-multiplied form cum_s*n_g would overflow
    // at ~10^12 docs). Scale shape: the grid is DISTINCT token counts
    // (domain-bounded, q110 argument); sources × grid is a
    // registry-sized broadcast fan-out; the only unpartitioned window
    // is the global cum over that bounded grid.
    Q("q143_ks_drift", (s, d) => {
      import s.implicits._
      val lens = t(s, d, "documents").select($"source",
        TextOps.tokenCount($"text").cast("long").as("v"))
      val wG = Window.orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val grid = lens.groupBy($"v").agg(count(lit(1)).as("k"))
        .withColumn("cum_g", sum($"k").over(wG)).drop("k")
      val srcTot = lens.groupBy($"source").agg(count(lit(1)).as("n_s"))
      val tot = lens.agg(count(lit(1)).as("n_g"))
      val sc = lens.groupBy($"source", $"v").agg(count(lit(1)).as("ks"))
      val wS = Window.partitionBy($"source").orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.crossJoin(broadcast(srcTot)).crossJoin(broadcast(tot))
        .join(sc, Seq("source", "v"), "left_outer")
        .withColumn("cum_s", sum(coalesce($"ks", lit(0L))).over(wS))
        .withColumn("d_ppm",
          abs(expr("(cum_s * 1000000) div n_s - (cum_g * 1000000) div n_g")))
        .groupBy($"source")
        .agg(max($"n_s").as("n_docs"), max($"d_ppm").as("ks_ppm"))
    }, Some("""
      WITH l AS (SELECT source,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS v
                 FROM documents),
      g AS (SELECT v, count(*) AS k FROM l GROUP BY 1),
      gg AS (SELECT v, sum(k) OVER (ORDER BY v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g
             FROM g),
      st AS (SELECT source, count(*) AS n_s FROM l GROUP BY 1),
      tt AS (SELECT count(*) AS n_g FROM l),
      sc AS (SELECT source, v, count(*) AS ks FROM l GROUP BY 1, 2),
      cm AS (SELECT st.source, gg.v,
               sum(coalesce(sc.ks, 0)) OVER (PARTITION BY st.source
                 ORDER BY gg.v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
               gg.cum_g, st.n_s, tt.n_g
             FROM gg CROSS JOIN st CROSS JOIN tt
             LEFT JOIN sc ON sc.source = st.source AND sc.v = gg.v)
      SELECT source, CAST(max(n_s) AS BIGINT) AS n_docs,
        CAST(max(abs((cum_s * 1000000) // n_s - (cum_g * 1000000) // n_g))
               AS BIGINT) AS ks_ppm
      FROM cm GROUP BY 1""")),

    // crawl-to-crawl snapshot diff: treat docs with doc_id % 10 != 7 as
    // the PREVIOUS crawl (v1) and the full corpus as the current one
    // (v2), with every doc_id % 13 == 5 doc's text "re-crawled" (suffix
    // appended) in v2 — then report per source: docs added, docs
    // changed (same id, different content fingerprint), docs unchanged
    // — the ingest-delta report that decides how much of a re-crawl is
    // actually new before paying for downstream dedup. Shape: ONE
    // id-keyed full-outer join of the two fingerprint frames (both
    // corpus-growing, neither broadcast, md5-uniform key), then a
    // registry-sized rollup. At 100 TB this is the exact two-snapshot
    // reconciliation shape; nothing is collected.
    Q("q144_snapshot_diff", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val v1 = docs.filter($"doc_id" % 10 =!= 7)
        .select($"doc_id", TextOps.fingerprint($"text").as("fp1"))
      val v2 = docs.select($"doc_id", $"source",
        TextOps.fingerprint(
          when($"doc_id" % 13 === 5, concat($"text", lit(" recrawled")))
            .otherwise($"text")).as("fp2"))
      v2.join(v1, Seq("doc_id"), "left_outer")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"fp1".isNull, 1L).otherwise(0L)).as("n_added"),
          sum(when($"fp1".isNotNull && $"fp1" =!= $"fp2", 1L).otherwise(0L))
            .as("n_changed"),
          sum(when($"fp1" === $"fp2", 1L).otherwise(0L)).as("n_unchanged"))
    }, Some("""
      WITH v1 AS (
        SELECT doc_id,
          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp1
        FROM documents WHERE doc_id % 10 <> 7),
      v2 AS (
        SELECT doc_id, source,
          md5(regexp_replace(lower(trim(
            CASE WHEN doc_id % 13 = 5 THEN text || ' recrawled'
                 ELSE text END)), '\s+', ' ', 'g')) AS fp2
        FROM documents)
      SELECT v2.source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN v1.fp1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_added,
        CAST(sum(CASE WHEN v1.fp1 IS NOT NULL AND v1.fp1 <> v2.fp2
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        CAST(sum(CASE WHEN v1.fp1 = v2.fp2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_unchanged
      FROM v2 LEFT JOIN v1 USING (doc_id)
      GROUP BY 1""")),

    // distribution-matching resampler (the mixture-rebalancing pass
    // behind "match the reference language mix"): per language, accept
    // docs with deterministic probability min(1, target_share /
    // current_share) so the SURVIVING corpus's language mix approaches
    // a fixed target (40/30/20/10-style ppm table as the policy input).
    // Acceptance = hashMix(doc_id) < rate_permille — the q84/q56 pure
    // row function: rerun-, engine- and repartition-stable, so an
    // ablation on the resampled corpus is reproducible. Shape: one
    // registry-sized groupBy for current shares, one 1-row total, one
    // lang-keyed join back (registry frame broadcast by the planner),
    // then the row-local accept test and a final rollup. Rates are
    // integer permille: rate = min(1000, target_ppm * n_total div
    // (1000 * n_lang)) — all div-floors on non-negative ints.
    Q("q145_distribution_match", (s, d) => {
      import s.implicits._
      // fixed policy: target shares in ppm, keyed by position of the
      // lang in the registry's sort order (so the policy is static SQL
      // in both engines without a lang-name literal table)
      val docs = t(s, d, "documents").select($"doc_id", $"lang")
      val byLang = docs.groupBy($"lang").agg(count(lit(1)).as("nl"))
      val wAll = Window.orderBy($"lang".asc)
      val ranked = byLang
        .withColumn("li", row_number().over(wAll) - 1)
        .withColumn("target_ppm",
          when($"li" % 4 === 0, 400000L).when($"li" % 4 === 1, 300000L)
            .when($"li" % 4 === 2, 200000L).otherwise(100000L))
      val tot = byLang.agg(sum($"nl").as("nt"))
      val rates = ranked.crossJoin(broadcast(tot))
        .select($"lang", $"nl",
          least(lit(1000L), expr("(target_ppm * nt) div (1000 * nl)"))
            .as("rate_pm"))
      docs.join(rates, "lang")
        .withColumn("keep", CorpusOps.hashMix($"doc_id", 1000L) < $"rate_pm")
        .groupBy($"lang")
        .agg(max($"rate_pm").as("rate_pm"), count(lit(1)).as("n_docs"),
          sum(when($"keep", 1L).otherwise(0L)).as("n_kept"))
    }, Some("""
      WITH bl AS (SELECT lang, count(*) AS nl FROM documents GROUP BY 1),
      rk AS (SELECT lang, nl,
               row_number() OVER (ORDER BY lang ASC) - 1 AS li
             FROM bl),
      tgt AS (SELECT lang, nl,
                CASE li % 4 WHEN 0 THEN 400000 WHEN 1 THEN 300000
                  WHEN 2 THEN 200000 ELSE 100000 END AS target_ppm
              FROM rk),
      tt AS (SELECT sum(nl) AS nt FROM bl),
      rates AS (SELECT lang, nl,
                  least(1000, (target_ppm * tt.nt) // (1000 * nl)) AS rate_pm
                FROM tgt CROSS JOIN tt)
      SELECT d.lang, CAST(max(r.rate_pm) AS BIGINT) AS rate_pm,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN ((((d.doc_id % 1000003) + 1000003) % 1000003
                             * 2654435761 + 40503) % 1000 + 1000) % 1000
                        < r.rate_pm
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM documents d JOIN rates r USING (lang)
      GROUP BY 1""")),

    // rare-combination suppression (k-anonymity-style release gate):
    // bucket every doc by its quasi-identifier tuple (lang, source,
    // length octile) and suppress buckets holding fewer than k=5 docs —
    // the pre-release pass that keeps "the only Swahili doc from
    // forum.example.com at length ~9000" from being re-identifiable in
    // a published corpus. Length octiles come from a domain-bounded
    // distinct-value cum (q110 argument), NOT percent_rank over the
    // corpus. Shape: the octile frame is distinct lengths; the doc-side
    // octile lookup is a value-keyed join; bucket counting is one
    // map-side-combined agg; the per-doc suppress flag joins back on
    // the bucket key. Nothing broadcast but the 1-row total.
    Q("q146_rare_group_suppress", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select($"doc_id", $"lang", $"source",
        TextOps.tokenCount($"text").cast("long").as("v"))
      val wV = Window.orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = docs.agg(count(lit(1)).as("nt"))
      val oct = docs.groupBy($"v").agg(count(lit(1)).as("k"))
        .withColumn("cum", sum($"k").over(wV))
        .crossJoin(broadcast(tot))
        .select($"v", least(lit(7L), expr("(cum * 8 - 1) div nt")).as("octile"))
      val bucketed = docs.join(oct, "v")
        .select($"doc_id", $"lang", $"source", $"octile")
      val sizes = bucketed.groupBy($"lang", $"source", $"octile")
        .agg(count(lit(1)).as("bn"))
      bucketed.join(sizes, Seq("lang", "source", "octile"))
        .groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"bn" < 5, 1L).otherwise(0L)).as("n_suppressed"),
          countDistinct(when($"bn" < 5, $"octile")).as("n_rare_buckets"))
    }, Some("""
      WITH d AS (SELECT doc_id, lang, source,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                     AS v
                 FROM documents),
      tt AS (SELECT count(*) AS nt FROM d),
      oc AS (SELECT v,
               least(7, (sum(cnt) OVER (ORDER BY v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 8 - 1)
                 // tt.nt) AS octile
             FROM (SELECT v, count(*) AS cnt FROM d GROUP BY 1)
             CROSS JOIN tt),
      b AS (SELECT d.doc_id, d.lang, d.source, oc.octile
            FROM d JOIN oc USING (v)),
      sz AS (SELECT lang, source, octile, count(*) AS bn
             FROM b GROUP BY 1, 2, 3)
      SELECT b.lang, b.source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN sz.bn < 5 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_suppressed,
        CAST(count(DISTINCT CASE WHEN sz.bn < 5 THEN sz.octile END) AS BIGINT)
          AS n_rare_buckets
      FROM b JOIN sz USING (lang, source, octile)
      GROUP BY 1, 2""")),

    // tokenizer fertility report (per language): BPE-ish subword tokens
    // per whitespace word (fertility, ppm), punctuation-token share
    // (ppm), and mean subword length (milli-chars) — the
    // tokenizer-efficiency numbers that decide whether a vocabulary
    // fits a language before a training run is priced (fertility ~2x
    // means 2x the compute per word). Everything is a row-local
    // regexp + three integer sums with map-side combine — zero joins,
    // zero windows, zero broadcasts; the total-chars term rides
    // length(array_join(bpe)) so no per-token explode happens.
    Q("q147_tokenizer_fertility", (s, d) => {
      import s.implicits._
      val bpe = TextOps.bpeTokens($"text")
      t(s, d, "documents")
        .select($"lang",
          TextOps.tokenCount($"text").cast("long").as("words"),
          size(bpe).cast("long").as("subtoks"),
          // the BPE pattern emits punctuation as single-char tokens, so
          // counting the class matches on the raw text IS the
          // punct-token count — no filter() HOF over the token array
          size(regexp_extract_all($"text", lit("[^a-zA-Z0-9\\s]"), lit(0)))
            .cast("long").as("puncts"),
          length(array_join(bpe, "")).cast("long").as("chars"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"words").as("n_words"),
          sum($"subtoks").as("n_subtoks"),
          sum($"puncts").as("np"), sum($"chars").as("nc"))
        .select($"lang", $"n_docs", $"n_words", $"n_subtoks",
          expr("(n_subtoks * 1000000) div n_words").as("fertility_ppm"),
          expr("(np * 1000000) div n_subtoks").as("punct_ppm"),
          expr("(nc * 1000) div n_subtoks").as("sublen_milli"))
    }, Some("""
      WITH r AS (
        SELECT lang,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS words,
          CAST(len(regexp_extract_all(text,
            '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS subtoks,
          CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT)
            AS puncts,
          CAST(length(array_to_string(regexp_extract_all(text,
            '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'), '')) AS BIGINT) AS chars
        FROM documents)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(words) AS BIGINT) AS n_words,
        CAST(sum(subtoks) AS BIGINT) AS n_subtoks,
        CAST(sum(subtoks) * 1000000 // sum(words) AS BIGINT) AS fertility_ppm,
        CAST(sum(puncts) * 1000000 // sum(subtoks) AS BIGINT) AS punct_ppm,
        CAST(sum(chars) * 1000 // sum(subtoks) AS BIGINT) AS sublen_milli
      FROM r GROUP BY 1""")),

    // training-shard balance audit (q106's load-balance sibling): after
    // the deterministic hashMix shard assignment, does token mass land
    // evenly? Reports per shard its token share (ppm) and signed
    // deviation from the ideal 1/8 (ppm) — the number that predicts
    // straggler shards before a training run starts. One
    // map-side-combined agg over the corpus + a 1-row total; the shard
    // frame is 8 rows at any corpus size.
    Q("q148_shard_balance", (s, d) => {
      import s.implicits._
      val byShard = t(s, d, "documents")
        .select(pmod(CorpusOps.hashMix($"doc_id", 1000003L), lit(8L))
          .as("shard"),
          TextOps.tokenCount($"text").cast("long").as("n_toks"))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("toks"))
      val tot = byShard.agg(sum($"toks").as("tt"))
      byShard.crossJoin(broadcast(tot))
        .select($"shard", $"n_docs", $"toks",
          expr("(toks * 1000000) div tt").as("share_ppm"),
          (expr("(toks * 1000000) div tt") - lit(125000L)).as("dev_ppm"))
    }, Some("""
      WITH s AS (
        SELECT ((((doc_id % 1000003) + 1000003) % 1000003 * 2654435761
                 + 40503) % 1000003 + 1000003) % 1000003 % 8 AS shard,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
        FROM documents),
      b AS (SELECT shard, count(*) AS n_docs, sum(n_toks) AS toks
            FROM s GROUP BY 1),
      tt AS (SELECT sum(toks) AS t FROM b)
      SELECT CAST(shard AS BIGINT) AS shard, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(toks AS BIGINT) AS toks,
        CAST(toks * 1000000 // tt.t AS BIGINT) AS share_ppm,
        CAST(toks * 1000000 // tt.t - 125000 AS BIGINT) AS dev_ppm
      FROM b CROSS JOIN tt""")),

    // Bloom-filtered join pre-pass (the runtime-filter / sideways-
    // information-passing technique, made explicit and auditable):
    // before joining lineitem to the urgent-orders subset, probe each
    // row against a 1024-bit/3-hash Bloom built from the urgent order
    // keys and report how much of the scan the CONSTANT 32-word filter
    // would prune vs ground truth — rows passed, true matches, false
    // positives (ppm of the prunable set), and the structural
    // no-false-negatives gate (both engines must claim TRUE). At scale
    // this is the join where the probe side is 100 TB and shipping a
    // 4 KB filter to every task saves the shuffle of every pruned row;
    // the exact-truth join stays unhinted so AQE adjudicates it.
    Q("q149_bloom_join_prune", (s, d) => {
      import s.implicits._
      val urgent = t(s, d, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey".cast("string").as("k"))
      val bloom = DedupOps.md5Buckets(urgent, $"k", k = 3, mod = 1024)
        .select(explode(array($"b0", $"b1", $"b2")).as("p"))
        .groupBy(expr("p div 32").as("word"))
        .agg(expr("bit_or(shiftleft(1L, cast(p % 32 as int)))").as("bits"))
      val li = DedupOps.md5Buckets(
        t(s, d, "lineitem").select($"l_orderkey".cast("string").as("k")),
        $"k", k = 3, mod = 1024)
      val probed = (0 until 3).foldLeft(li) { (acc, j) =>
        acc.join(
          broadcast(bloom.select(col("word").as(s"w$j"), col("bits").as(s"bits$j"))),
          expr(s"b$j div 32") === col(s"w$j"), "left_outer")
      }
      def hit(j: Int) = coalesce(
        expr(s"(shiftright(bits$j, cast(b$j % 32 as int)) & 1L) = 1L"),
        lit(false))
      val truth = urgent.distinct().withColumn("__t", lit(true))
      probed.join(truth, Seq("k"), "left_outer")
        .select((hit(0) && hit(1) && hit(2)).as("bp"),
          coalesce($"__t", lit(false)).as("tr"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when($"bp", 1L).otherwise(0L)).as("n_bloom_pass"),
          sum(when($"tr", 1L).otherwise(0L)).as("n_true"),
          sum(when($"bp" && !$"tr", 1L).otherwise(0L)).as("n_false_pos"),
          (sum(when($"tr" && !$"bp", 1L).otherwise(0L)) === 0L).as("no_misses"))
        .select($"n_rows", $"n_bloom_pass", $"n_true", $"n_false_pos",
          $"no_misses",
          expr("(n_false_pos * 1000000) div (n_rows - n_true)").as("fp_ppm"))
    }, Some {
      val hv = (v: String, j: Int) => DedupQueries.hvDuckOf(s"($v || ':$j')")
      s"""WITH u AS (
         |  SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders
         |  WHERE o_orderpriority = '1-URGENT'),
         |upos AS (
         |  SELECT CASE j WHEN 0 THEN (${hv("k", 0)}) % 1024
         |                WHEN 1 THEN (${hv("k", 1)}) % 1024
         |                ELSE (${hv("k", 2)}) % 1024 END AS p
         |  FROM u CROSS JOIN (SELECT unnest(range(0, 3)) AS j) js),
         |bloom AS (
         |  SELECT p // 32 AS word,
         |         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
         |  FROM upos GROUP BY 1),
         |li AS (
         |  SELECT k0.k AS k,
         |    (${hv("k0.k", 0)}) % 1024 AS b0,
         |    (${hv("k0.k", 1)}) % 1024 AS b1,
         |    (${hv("k0.k", 2)}) % 1024 AS b2
         |  FROM (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem) k0),
         |fl AS (
         |  SELECT
         |    coalesce((w0.bits >> CAST(li.b0 % 32 AS INT)) & 1, 0) = 1 AND
         |    coalesce((w1.bits >> CAST(li.b1 % 32 AS INT)) & 1, 0) = 1 AND
         |    coalesce((w2.bits >> CAST(li.b2 % 32 AS INT)) & 1, 0) = 1 AS bp,
         |    EXISTS (SELECT 1 FROM u WHERE u.k = li.k) AS tr
         |  FROM li
         |  LEFT JOIN bloom w0 ON w0.word = li.b0 // 32
         |  LEFT JOIN bloom w1 ON w1.word = li.b1 // 32
         |  LEFT JOIN bloom w2 ON w2.word = li.b2 // 32)
         |SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
         |  CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         |  CAST(sum(CASE WHEN bp AND NOT tr THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_false_pos,
         |  sum(CASE WHEN tr AND NOT bp THEN 1 ELSE 0 END) = 0 AS no_misses,
         |  CAST(sum(CASE WHEN bp AND NOT tr THEN 1 ELSE 0 END) * 1000000
         |         // (count(*) - sum(CASE WHEN tr THEN 1 ELSE 0 END))
         |       AS BIGINT) AS fp_ppm
         |FROM fl""".stripMargin
    }),

    // HLL mergeability gate (WHY sketches run at scale, demonstrated
    // relationally): per-hour 256-register HLL sketches of distinct
    // users are merged register-by-register (max) into a daily sketch,
    // which must equal the sketch built directly from the day's raw
    // events — max is associative, so regs_equal is a structural
    // identity both engines must claim TRUE, and it is exactly the
    // property that lets a 100 TB pipeline keep per-partition sketches
    // and combine them without re-reading data. The merged estimate
    // and the exact daily distinct ride alongside (q87 arithmetic:
    // DECIMAL-exact register mass, linear-counting branch). All aggs
    // are register-keyed (day x 256 at most) after one distinct pass.
    Q("q150_hll_merge", (s, d) => {
      import s.implicits._
      val aLit = f"${0.7213 / (1 + 1.079 / 256) * 256 * 256}%.17g"
      val bitlenSql = (24 to 1 by -1)
        .map(k => s"WHEN rest >= ${1L << (k - 1)} THEN $k")
        .mkString("CASE ", " ", " ELSE 0 END")
      val ev = t(s, d, "events").select(
        date_format(to_date($"ts"), "yyyy-MM-dd").as("day"),
        hour($"ts").cast("long").as("hr"), $"user_id")
      val hashed = ev.distinct()
        .withColumn("__h", md5($"user_id".cast("string")))
        .withColumn("hv", expr(s"(${DedupOps.hv32FromHexSql("__h")})"))
        .select($"day", $"hr", ($"hv" % 256).as("b"),
          expr("hv div 256").as("rest"))
      val hourly = hashed.groupBy($"day", $"hr", $"b")
        .agg(max(expr(s"25 - ($bitlenSql)")).as("m"))
      val merged = hourly.groupBy($"day", $"b").agg(max($"m").as("mm"))
      val direct = hashed.groupBy($"day", $"b")
        .agg(max(expr(s"25 - ($bitlenSql)")).as("md"))
      val perDay = merged.join(direct, Seq("day", "b"))
        .groupBy($"day")
        .agg((sum(when($"mm" === $"md", 0L).otherwise(1L)) === 0L)
          .as("regs_equal"),
          sum(expr("cast(power(0.5, mm) as decimal(38,30))")).as("sp"),
          count(lit(1)).as("np"))
      val estSql =
        s"""CASE WHEN ($aLit / (cast(sp as double) + (256 - np))) <= 640.0
           |       AND np < 256
           |     THEN floor(256.0 * ln(256.0 / (256 - np)))
           |     ELSE floor($aLit / (cast(sp as double) + (256 - np))) END"""
          .stripMargin
      val exact = ev.select($"day", $"user_id").distinct()
        .groupBy($"day").agg(count(lit(1)).as("n_exact"))
      val hours = ev.select($"day", $"hr").distinct()
        .groupBy($"day").agg(count(lit(1)).as("n_hours"))
      perDay.join(exact, "day").join(hours, "day")
        .select($"day", $"n_hours", $"regs_equal",
          (lit(256L) - $"np").cast("long").as("zero_regs"),
          expr(s"cast(($estSql) as bigint)").as("hll_est"),
          $"n_exact".cast("long").as("n_exact"))
    }, Some {
      val aLit = f"${0.7213 / (1 + 1.079 / 256) * 256 * 256}%.17g"
      val bitlenSql = (24 to 1 by -1)
        .map(k => s"WHEN rest >= ${1L << (k - 1)} THEN $k")
        .mkString("CASE ", " ", " ELSE 0 END")
      s"""WITH ev AS (
         |  SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         |    CAST(hour(ts) AS BIGINT) AS hr, user_id
         |  FROM events),
         |h AS (SELECT day, hr,
         |        (${DedupQueries.hvDuckOf("CAST(user_id AS VARCHAR)")}) AS hv
         |      FROM ev),
         |r AS (SELECT day, hr, hv % 256 AS b, hv // 256 AS rest FROM h),
         |hourly AS (SELECT day, hr, b, max(25 - ($bitlenSql)) AS m
         |           FROM r GROUP BY 1, 2, 3),
         |merged AS (SELECT day, b, max(m) AS mm FROM hourly GROUP BY 1, 2),
         |direct AS (SELECT day, b, max(25 - ($bitlenSql)) AS md
         |           FROM r GROUP BY 1, 2),
         |pd AS (SELECT m.day,
         |         sum(CASE WHEN m.mm = d.md THEN 0 ELSE 1 END) = 0
         |           AS regs_equal,
         |         sum(CAST(power(0.5, m.mm) AS DECIMAL(38,30))) AS sp,
         |         count(*) AS np
         |       FROM merged m JOIN direct d USING (day, b) GROUP BY 1),
         |ex AS (SELECT day, count(DISTINCT user_id) AS n_exact
         |       FROM ev GROUP BY 1),
         |hh AS (SELECT day, count(DISTINCT hr) AS n_hours FROM ev GROUP BY 1)
         |SELECT pd.day, CAST(hh.n_hours AS BIGINT) AS n_hours, pd.regs_equal,
         |  CAST(256 - pd.np AS BIGINT) AS zero_regs,
         |  CAST(CASE WHEN ($aLit / (CAST(pd.sp AS DOUBLE) + (256 - pd.np)))
         |                 <= 640.0 AND pd.np < 256
         |            THEN floor(256.0 * ln(256.0 / (256 - pd.np)))
         |            ELSE floor($aLit / (CAST(pd.sp AS DOUBLE)
         |                               + (256 - pd.np))) END
         |       AS BIGINT) AS hll_est,
         |  CAST(ex.n_exact AS BIGINT) AS n_exact
         |FROM pd JOIN ex USING (day) JOIN hh USING (day)""".stripMargin
    }),

    // HITS hubs/authorities (2 unrolled iterations, flow-normalized):
    // the complementary centrality to q139's PageRank — a node is a
    // good HUB if it links to good authorities, a good AUTHORITY if
    // good hubs link to it; crawl schedulers use the hub score to pick
    // link-rich index pages and the authority score to rank content
    // hosts. Same deterministic host graph as q139. Flow normalization
    // (each step divides a node's outgoing mass by its total edge
    // weight, floored PER EDGE before the sum — order-independent)
    // keeps every score in the 1e6 mass scale at any graph size, so
    // no max-normalization pass (and its overflow-prone * 1e6) is
    // needed. Scale shape: the corpus collapses to the <= 32x31-row
    // weighted edge registry in ONE map-side-combined agg; the 2 HITS
    // rounds then run on the driver below the CorpusOps.boundedRows
    // gate (q193-family two-path design), with the node-keyed BSP
    // half-iterations unchanged above the cap.
    Q("q155_hits_centrality", (s, d) => {
      import s.implicits._
      val edges = t(s, d, "documents")
        .select(($"doc_id" % 32).as("src"), (($"doc_id" * 7 + 3) % 32).as("dst"))
        .filter($"src" =!= $"dst")
        .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      CorpusOps.boundedRows(edges) match {
        case Some(rows) =>
          val e = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          val ow = e.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
          val iw = e.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
          val nodes = (ow.keySet ++ iw.keySet).toSeq.sorted
          def authStep(h: Map[Long, Long]): Map[Long, Long] = {
            val ar = e.map(t => t._2 -> (h(t._1) * t._3) / ow(t._1))
              .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
            nodes.map(n => n -> ar.getOrElse(n, 0L)).toMap
          }
          def hubStep(a: Map[Long, Long]): Map[Long, Long] = {
            val hr = e.map(t => t._1 -> (a(t._2) * t._3) / iw(t._2))
              .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
            nodes.map(n => n -> hr.getOrElse(n, 0L)).toMap
          }
          val h0 = nodes.map(n => n -> 1000000L).toMap
          val a2 = authStep(hubStep(authStep(h0)))
          val h2 = hubStep(a2)
          nodes.map(n => (n, ow.getOrElse(n, 0L), iw.getOrElse(n, 0L),
              a2(n), h2(n)))
            .toDF("node", "out_weight", "in_weight",
              "auth_micro", "hub_micro")
        case None =>
          val ep = edges // boundedRows left it persisted on the None path
          val ow = ep.groupBy($"src").agg(sum($"w").as("ow"))
          val iw = ep.groupBy($"dst").agg(sum($"w").as("iw"))
          val eo = ep.join(ow, "src")
          val ei = ep.join(iw, "dst")
          val nodes = ow.select($"src".as("node")).join(
            iw.select($"dst".as("node")), Seq("node"), "full_outer")
          def authStep(h: org.apache.spark.sql.DataFrame) =
            nodes.join(
              eo.join(h.withColumnRenamed("node", "src"), "src")
                .select($"dst".as("node"), expr("(h * w) div ow").as("c"))
                .groupBy($"node").agg(sum($"c").as("ar")),
              Seq("node"), "left_outer")
              .select($"node", coalesce($"ar", lit(0L)).as("a"))
          def hubStep(a: org.apache.spark.sql.DataFrame) =
            nodes.join(
              ei.join(a.withColumnRenamed("node", "dst"), "dst")
                .select($"src".as("node"), expr("(a * w) div iw").as("c"))
                .groupBy($"node").agg(sum($"c").as("hr")),
              Seq("node"), "left_outer")
              .select($"node", coalesce($"hr", lit(0L)).as("h"))
          val h0 = nodes.select($"node", lit(1000000L).as("h"))
          val a1 = authStep(h0)
          val h1 = hubStep(a1)
          val a2 = authStep(h1)
          val h2 = hubStep(a2)
          nodes
            .join(ow.withColumnRenamed("src", "node"), Seq("node"), "left_outer")
            .join(iw.withColumnRenamed("dst", "node"), Seq("node"), "left_outer")
            .join(a2.withColumnRenamed("a", "auth_micro"), "node")
            .join(h2.withColumnRenamed("h", "hub_micro"), "node")
            .select($"node", coalesce($"ow", lit(0L)).as("out_weight"),
              coalesce($"iw", lit(0L)).as("in_weight"),
              $"auth_micro", $"hub_micro")
      }
    }, Some("""
      WITH ed AS (SELECT doc_id % 32 AS src, (doc_id * 7 + 3) % 32 AS dst
                  FROM documents),
      e AS (SELECT src, dst, count(*) AS w FROM ed WHERE src <> dst
            GROUP BY 1, 2),
      o AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY 1),
      i AS (SELECT dst, CAST(sum(w) AS BIGINT) AS iw FROM e GROUP BY 1),
      n AS (SELECT src AS node FROM o UNION SELECT dst FROM i),
      a1 AS (SELECT n.node, coalesce(x.ar, 0) AS a FROM n LEFT JOIN (
               SELECT e.dst AS node, sum((1000000 * e.w) // o.ow) AS ar
               FROM e JOIN o USING (src) GROUP BY 1) x ON x.node = n.node),
      h1 AS (SELECT n.node, coalesce(x.hr, 0) AS h FROM n LEFT JOIN (
               SELECT e.src AS node, sum((a1.a * e.w) // i.iw) AS hr
               FROM e JOIN i USING (dst) JOIN a1 ON a1.node = e.dst
               GROUP BY 1) x ON x.node = n.node),
      a2 AS (SELECT n.node, coalesce(x.ar, 0) AS a FROM n LEFT JOIN (
               SELECT e.dst AS node, sum((h1.h * e.w) // o.ow) AS ar
               FROM e JOIN o USING (src) JOIN h1 ON h1.node = e.src
               GROUP BY 1) x ON x.node = n.node),
      h2 AS (SELECT n.node, coalesce(x.hr, 0) AS h FROM n LEFT JOIN (
               SELECT e.src AS node, sum((a2.a * e.w) // i.iw) AS hr
               FROM e JOIN i USING (dst) JOIN a2 ON a2.node = e.dst
               GROUP BY 1) x ON x.node = n.node)
      SELECT n.node, coalesce(o.ow, 0) AS out_weight,
        coalesce(i.iw, 0) AS in_weight,
        CAST(a2.a AS BIGINT) AS auth_micro, CAST(h2.h AS BIGINT) AS hub_micro
      FROM n LEFT JOIN o ON o.src = n.node LEFT JOIN i ON i.dst = n.node
      JOIN a2 ON a2.node = n.node JOIN h2 ON h2.node = n.node""")),

    // Heaps-law vocabulary growth (q133 Zipf's longitudinal sibling):
    // per source, the log-log slope of distinct-vocabulary size vs
    // cumulative token count across 8 ingestion-order checkpoints —
    // the saturation exponent (beta ~ 0.5 healthy crawl, -> 0 a
    // template/synthetic source that stopped contributing new
    // vocabulary; complements q136's per-doc novelty curve with a
    // per-source scalar). Exactness: checkpoint membership is the
    // integer test fd*8 <= max_id*j (no division); ln floor-quantized
    // to milli (q133 convention); the slope is the all-integer
    // closed-form (n*sxy - sx*sy)*1000 div (n*sxx - sx*sx) over
    // DISTINCT (x, y) points (dedup keeps flat tails from
    // over-weighting the fit and guards the degenerate all-equal
    // case, which falls back to 0). Scale shape: first-seen is ONE
    // vocabulary-keyed min-agg; both checkpoint frames are 8
    // conditional sums with map-side combine (NO 8x fan-out of the
    // vocabulary); everything after the registry join is <= 8 rows
    // per source; the only broadcast is the 1-row max-doc-id.
    Q("q156_heaps_growth", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select($"source", $"doc_id",
        TextOps.tokenCount($"text").cast("long").as("ntok"), $"text")
      val fs = docs
        .select($"source", $"doc_id",
          explode(array_distinct(TextOps.tokens($"text"))).as("tok"))
        .groupBy($"source", $"tok").agg(min($"doc_id").as("fd"))
      val mx = docs.agg(max($"doc_id").as("mxid"))
      val vAggs = (1 to 8).map(j =>
        sum(when($"fd" * 8 <= $"mxid" * j, 1L).otherwise(0L)).as(s"v$j"))
      val tAggs = (1 to 8).map(j =>
        sum(when($"doc_id" * 8 <= $"mxid" * j, $"ntok").otherwise(0L))
          .as(s"t$j"))
      val vocab = fs.crossJoin(broadcast(mx)).groupBy($"source")
        .agg(vAggs.head, vAggs.tail: _*)
      val toks = docs.crossJoin(broadcast(mx)).groupBy($"source")
        .agg(tAggs.head, tAggs.tail: _*)
      val pts = vocab.join(toks, "source")
        .select($"source", explode(array((1 to 8).map(j =>
          struct(col(s"v$j").as("v"), col(s"t$j").as("tk"))): _*)).as("p"))
        .filter($"p.v" > 0 && $"p.tk" > 0)
        .select($"source",
          floor(log($"p.tk".cast("double")) * 1000).cast("long").as("x"),
          floor(log($"p.v".cast("double")) * 1000).cast("long").as("y"),
          $"p.v".as("v"), $"p.tk".as("tk"))
        .distinct()
      pts.groupBy($"source")
        .agg(count(lit(1)).as("n_pts"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
          max($"v").as("vocab_final"), max($"tk").as("tokens_final"))
        .select($"source", $"n_pts", $"vocab_final", $"tokens_final",
          when($"n_pts" * $"sxx" - $"sx" * $"sx" > 0,
            expr("(greatest(n_pts * sxy - sx * sy, 0L) * 1000) " +
              "div (n_pts * sxx - sx * sx)")).otherwise(0L).as("beta_milli"))
    }, Some("""
      WITH dd AS (
        SELECT source, doc_id,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ntok,
          text
        FROM documents),
      mx AS (SELECT max(doc_id) AS mxid FROM dd),
      fs AS (SELECT source, tok, min(doc_id) AS fd FROM (
               SELECT DISTINCT source, doc_id,
                 unnest(string_split_regex(trim(text), '\s+')) AS tok
               FROM dd) GROUP BY 1, 2),
      vocab AS (SELECT source, j,
                  sum(CASE WHEN fd * 8 <= mxid * j THEN 1 ELSE 0 END) AS v
                FROM fs CROSS JOIN mx CROSS JOIN range(1, 9) r(j)
                GROUP BY 1, 2),
      tks AS (SELECT source, j,
                sum(CASE WHEN doc_id * 8 <= mxid * j THEN ntok ELSE 0 END)
                  AS tk
              FROM dd CROSS JOIN mx CROSS JOIN range(1, 9) r(j)
              GROUP BY 1, 2),
      pts AS (SELECT DISTINCT source,
                CAST(floor(ln(tk * 1.0) * 1000) AS BIGINT) AS x,
                CAST(floor(ln(v * 1.0) * 1000) AS BIGINT) AS y,
                v, tk
              FROM vocab JOIN tks USING (source, j)
              WHERE v > 0 AND tk > 0),
      ag AS (SELECT source, count(*) AS n_pts, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx,
               max(v) AS vocab_final, max(tk) AS tokens_final
             FROM pts GROUP BY 1)
      SELECT source, CAST(n_pts AS BIGINT) AS n_pts,
        CAST(vocab_final AS BIGINT) AS vocab_final,
        CAST(tokens_final AS BIGINT) AS tokens_final,
        CAST(CASE WHEN n_pts * sxx - sx * sx > 0
                  THEN greatest(n_pts * sxy - sx * sy, 0) * 1000
                         // (n_pts * sxx - sx * sx)
                  ELSE 0 END AS BIGINT) AS beta_milli
      FROM ag""")),

    // Pareto skyline (quality vs token cost): the documents no other
    // document dominates — higher-or-equal quality AND
    // shorter-or-equal, strict somewhere — the frontier a budgeted
    // curation pass selects from before trading quality for tokens
    // (complements q75's scalar budget with the full frontier). 2-D
    // skyline reduces to: per-length max quality, then a running max
    // over lengths ascending — a length is on the frontier iff its
    // best quality strictly beats every shorter length's best. Scale
    // shape: the corpus is touched by ONE map-side-combined
    // (ntok, max qm) agg plus the canonical join-back; the running-max
    // window rides the DISTINCT token-count grid — bounded by the
    // value DOMAIN (q110/q143 argument), never the corpus. Quality is
    // floor-milli integer throughout.
    Q("q161_pareto_skyline", (s, d) => {
      import s.implicits._
      val b = t(s, d, "documents").select($"doc_id",
        TextOps.tokenCount($"text").cast("long").as("ntok"),
        floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("qm"))
      val g = b.groupBy($"ntok").agg(max($"qm").as("mq"))
      val wLt = Window.orderBy($"ntok".asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val sk = g.withColumn("rlt", max($"mq").over(wLt))
        .filter($"rlt".isNull || $"mq" > $"rlt")
        .select($"ntok", $"mq")
      sk.join(b, sk("ntok") === b("ntok") && sk("mq") === b("qm"))
        .groupBy(sk("ntok").as("n_tokens"), sk("mq").as("quality_milli"))
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("canonical_id"))
    }, Some("""
      WITH b AS (
        SELECT doc_id,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ntok,
          CAST(floor((
            least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0)
              * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0
              / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b'))
              / 10.0) * 0.2) * 1000) AS BIGINT) AS qm
        FROM documents),
      g AS (SELECT ntok, max(qm) AS mq FROM b GROUP BY 1),
      r AS (SELECT ntok, mq,
              max(mq) OVER (ORDER BY ntok ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS rlt
            FROM g),
      sk AS (SELECT ntok, mq FROM r WHERE rlt IS NULL OR mq > rlt)
      SELECT sk.ntok AS n_tokens, sk.mq AS quality_milli,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(min(b.doc_id) AS BIGINT) AS canonical_id
      FROM sk JOIN b ON b.ntok = sk.ntok AND b.qm = sk.mq
      GROUP BY 1, 2""")),

    // SCD-2 interval build (the warehouse dimension-history op): from
    // the event stream, each user's last-observed value per day,
    // collapsed into validity intervals [valid_from, valid_to) that
    // change only when the value changes — the bitemporal lookup table
    // an as-of join (q-asof family) probes. Deterministic last-wins:
    // (ts, event_id) is a total order. Open intervals close at the
    // standard 9999-12-31 high date (no NULL comparisons cross
    // engines). Scale shape: one (user, day) ranked reduction + two
    // lag/lead windows, ALL partitioned by user — bounded by a user's
    // history, never the corpus; value is floor-milli integer.
    Q("q162_scd2_intervals", (s, d) => scd2Intervals(s, d), Some("""
      WITH daily AS (
        SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
          CAST(floor(value * 1000) AS BIGINT) AS vm
        FROM events
        QUALIFY row_number() OVER (
          PARTITION BY user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d')
          ORDER BY ts DESC, event_id DESC) = 1),
      ch AS (
        SELECT user_id, day, vm,
          lag(vm) OVER (PARTITION BY user_id ORDER BY day ASC) AS pv
        FROM daily
        QUALIFY pv IS NULL OR vm <> pv)
      SELECT user_id, day AS valid_from,
        coalesce(lead(day) OVER (PARTITION BY user_id ORDER BY day ASC),
                 '9999-12-31') AS valid_to,
        vm
      FROM ch""")),

    // last-touch attribution (IGNORE NULLS window navigation — the
    // §2.5 capability lag/lead/rows frames don't cover): each purchase
    // is credited to the user's most recent PRECEDING click if it
    // happened within 24h — the marketing-attribution join expressed
    // as one window pass instead of an as-of self-join (the q-asof
    // family's window-native sibling). Deterministic order: (epoch,
    // event_id) is total. Scale shape: ONE user-partitioned window
    // (bounded by a user's history) + a map-side-combined rollup;
    // no joins at all. Value mass floor-milli integer.
    Q("q163_attribution", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ep".asc, $"event_id".asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, d, "events")
        .select($"user_id", $"event_id", $"event_type",
          unix_micros($"ts".cast("timestamp")).as("ep"),
          floor($"value" * 1000).cast("long").as("vm"))
        .withColumn("prev_click",
          last(when($"event_type" === "click", $"ep"), ignoreNulls = true)
            .over(w))
        .filter($"event_type" === "purchase")
        .withColumn("attributed",
          $"prev_click".isNotNull && $"ep" - $"prev_click" <= 86400000000L)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum(when($"attributed", 1L).otherwise(0L)).as("n_attributed"),
          sum(when($"attributed", $"vm").otherwise(0L))
            .as("attributed_value_milli"))
    }, Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ep,
          CAST(floor(value * 1000) AS BIGINT) AS vm
        FROM events),
      x AS (
        SELECT user_id, event_type, ep, vm,
          last_value(CASE WHEN event_type = 'click' THEN ep END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ep ASC, event_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            AS prev_click
        FROM e),
      p AS (
        SELECT user_id, vm,
          prev_click IS NOT NULL AND ep - prev_click <= 86400000000
            AS attributed
        FROM x WHERE event_type = 'purchase')
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
        CAST(sum(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT)
          AS n_attributed,
        CAST(sum(CASE WHEN attributed THEN vm ELSE 0 END) AS BIGINT)
          AS attributed_value_milli
      FROM p GROUP BY 1""")),

    // referential-integrity audit (the warehouse release gate §2.3's
    // semantic joins never state explicitly): orphan counts and ppm
    // for each foreign-key edge of the star schema — the number that
    // decides whether a load is publishable before ANY downstream
    // join is trusted. Shape: one left-anti join per edge, each
    // reduced to a count — the anti side streams, the key side is
    // whatever the planner picks (AQE adjudicates; dimension keys
    // broadcast, fact keys shuffle); the 3-row report is a union of
    // scalar frames.
    Q("q164_fk_integrity", (s, d) => {
      import s.implicits._
      def edge(name: String, child: org.apache.spark.sql.DataFrame,
               ck: String, parent: org.apache.spark.sql.DataFrame,
               pk: String) = {
        val n = child.count()
        val p = parent.select(col(pk)).distinct()
        child.join(p, child(ck) === p(pk), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .select(lit(name).as("fk_edge"), lit(n).as("n_child"),
            $"n_orphans",
            expr("(n_orphans * 1000000) div " + n).as("orphan_ppm"))
      }
      val li = t(s, d, "lineitem"); val or = t(s, d, "orders")
      val cu = t(s, d, "customer"); val na = t(s, d, "nation")
      edge("lineitem->orders", li, "l_orderkey", or, "o_orderkey")
        .unionAll(edge("orders->customer", or, "o_custkey", cu, "c_custkey"))
        .unionAll(edge("customer->nation", cu, "c_nationkey", na, "n_nationkey"))
    }, Some("""
      SELECT 'lineitem->orders' AS fk_edge,
        CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
        CAST((SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
             AS BIGINT) AS n_orphans,
        CAST((SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
             * 1000000 // (SELECT count(*) FROM lineitem)
             AS BIGINT) AS orphan_ppm
      UNION ALL
      SELECT 'orders->customer',
        CAST((SELECT count(*) FROM orders) AS BIGINT),
        CAST((SELECT count(*) FROM orders r
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = r.o_custkey))
             AS BIGINT),
        CAST((SELECT count(*) FROM orders r
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = r.o_custkey))
             * 1000000 // (SELECT count(*) FROM orders) AS BIGINT)
      UNION ALL
      SELECT 'customer->nation',
        CAST((SELECT count(*) FROM customer) AS BIGINT),
        CAST((SELECT count(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM nation n
                                WHERE n.n_nationkey = c.c_nationkey))
             AS BIGINT),
        CAST((SELECT count(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM nation n
                                WHERE n.n_nationkey = c.c_nationkey))
             * 1000000 // (SELECT count(*) FROM customer) AS BIGINT)""")),

    // SCD-2 as-of probe (the consumer of q162's bitemporal build): each
    // purchase event looks up the dimension value that was valid on its
    // day — the point-in-interval join every warehouse fact load runs
    // against a slowly-changing dimension. Containment is guaranteed by
    // construction (a purchase is itself an event, so its day is >= the
    // user's first interval start). Scale shape: the join is EQUI on
    // user_id (SMJ/shuffle-hash on the user key at any corpus size);
    // the interval range test is a post-join filter within one user's
    // history — never a cartesian, never corpus x corpus. Day strings
    // compare lexicographically (yyyy-MM-dd), no date arithmetic
    // crosses engines; dimension value is q162's floor-milli integer.
    Q("q167_scd2_probe", (s, d) => {
      import s.implicits._
      val dim = scd2Intervals(s, d)
        .select($"user_id".as("du"), $"valid_from", $"valid_to", $"vm")
      t(s, d, "events")
        .filter($"event_type" === "purchase")
        .select($"user_id", $"event_id",
          date_format(to_date($"ts"), "yyyy-MM-dd").as("day"))
        .join(dim, $"user_id" === $"du" &&
          $"day" >= $"valid_from" && $"day" < $"valid_to")
        .select($"user_id", $"event_id", $"day", $"vm".as("dim_value_milli"))
    }, Some("""
      WITH daily AS (
        SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
          CAST(floor(value * 1000) AS BIGINT) AS vm
        FROM events
        QUALIFY row_number() OVER (
          PARTITION BY user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d')
          ORDER BY ts DESC, event_id DESC) = 1),
      ch AS (
        SELECT user_id, day, vm,
          lag(vm) OVER (PARTITION BY user_id ORDER BY day ASC) AS pv
        FROM daily
        QUALIFY pv IS NULL OR vm <> pv),
      dim AS (
        SELECT user_id AS du, day AS valid_from,
          coalesce(lead(day) OVER (PARTITION BY user_id ORDER BY day ASC),
                   '9999-12-31') AS valid_to,
          vm
        FROM ch)
      SELECT e.user_id, e.event_id,
        strftime(CAST(e.ts AS DATE), '%Y-%m-%d') AS day,
        dim.vm AS dim_value_milli
      FROM events e JOIN dim ON e.user_id = dim.du
        AND strftime(CAST(e.ts AS DATE), '%Y-%m-%d') >= dim.valid_from
        AND strftime(CAST(e.ts AS DATE), '%Y-%m-%d') < dim.valid_to
      WHERE e.event_type = 'purchase'""")),

    // Degree-ordered triangle counting over the host link graph (the
    // third graph-analytics op after q139 PageRank / q155 HITS):
    // per-node triangle membership + local clustering coefficient —
    // the community-density signal a crawl scheduler reads next to
    // centrality. The algorithm IS the scale story: each undirected
    // edge is oriented from its lower-(degree, id) endpoint to the
    // higher one, so every triangle is generated by exactly ONE wedge
    // at its lowest-ranked corner and out-degrees are O(sqrt(m)) on
    // any graph — wedge fan-out is sum(outdeg^2), the classic bound
    // that makes the plan survive a power-law host graph at 100 TB.
    // All joins are node/edge-keyed equi-joins; nothing is collected.
    // Counts are exact integers; clustering is floor ppm.
    Q("q168_triangle_count", (s, d) => {
      import s.implicits._
      // three deterministic generators give the 48-host registry a
      // non-trivial clustered topology (same synthesis family as q139)
      val raw = t(s, d, "documents").select(($"doc_id" % 48).as("u"),
          (($"doc_id" * 7 + 5) % 48).as("v"))
        .unionAll(t(s, d, "documents").select(($"doc_id" % 48).as("u"),
          (($"doc_id" * 11 + 3) % 48).as("v")))
        .unionAll(t(s, d, "documents").select((($"doc_id" * 5 + 1) % 48).as("u"),
          (($"doc_id" * 13 + 7) % 48).as("v")))
      val und0 = raw.filter($"u" =!= $"v")
        .select(least($"u", $"v").as("a"), greatest($"u", $"v").as("b"))
        .distinct()
      CorpusOps.boundedRows(und0) match {
        // q193-family driver path: the corpus-collapsing distinct above
        // is the only corpus-scale stage; the degree-ordered wedge
        // enumeration runs locally on the <= C(48,2)-edge registry
        case Some(rows) =>
          val und = rows.map(r => (r.getLong(0), r.getLong(1)))
          val deg = (und.map(_._1) ++ und.map(_._2))
            .groupBy(identity).view.mapValues(_.size.toLong).toMap
          def ord(n: Long) = deg(n) * 64 + n
          val oriented = und.map { case (a, b) =>
            if (ord(a) < ord(b)) (a, b) else (b, a)
          }
          val closeSet = oriented.toSet
          val outN = oriented.groupBy(_._1).view
            .mapValues(_.map(_._2).sortBy(ord)).toMap
          val triCount = scala.collection.mutable.LongMap
            .empty[Long].withDefaultValue(0L)
          outN.foreach { case (src, ts) =>
            for (i <- ts.indices; j <- (i + 1) until ts.length
                 if closeSet((ts(i), ts(j)))) {
              triCount(src) += 1; triCount(ts(i)) += 1; triCount(ts(j)) += 1
            }
          }
          deg.toSeq.map { case (n, dg) =>
            val tc = triCount(n)
            (n, dg, tc,
              if (dg > 1) (2 * tc * 1000000L) / (dg * (dg - 1)) else 0L)
          }.toDF("node", "deg", "n_triangles", "clustering_ppm")
        case None =>
          // und feeds deg + withOrd and oriented feeds 3 consumers:
          // persist the registry-sized frames so the document scans run
          // ONCE (the shared-subplan persist() convention)
          val und = und0 // boundedRows left it persisted on the None path
          val deg = und.select($"a".as("n")).unionAll(und.select($"b".as("n")))
            .groupBy($"n").agg(count(lit(1)).as("deg"))
          // total order: ord = deg * 64 + node (node < 48 by construction)
          val withOrd = und
            .join(deg.select($"n".as("a"), ($"deg" * 64 + $"n").as("oa")), "a")
            .join(deg.select($"n".as("b"), ($"deg" * 64 + $"n").as("ob")), "b")
          val oriented = withOrd.select(
            when($"oa" < $"ob", $"a").otherwise($"b").as("src"),
            when($"oa" < $"ob", $"b").otherwise($"a").as("dst"),
            when($"oa" < $"ob", $"ob").otherwise($"oa").as("odst")).persist()
          // wedges at the lowest-ranked corner; close with the oriented
          // (lower-rank -> higher-rank) edge between the two tips
          val e1 = oriented.select($"src", $"dst".as("t1"), $"odst".as("o1"))
          val e2 = oriented.select($"src", $"dst".as("t2"), $"odst".as("o2"))
          val wedges = e1.join(e2, "src").filter($"o1" < $"o2")
          val close = oriented.select($"src".as("t1"), $"dst".as("t2"))
          val tris = wedges.join(close, Seq("t1", "t2"))
            .select($"src".as("c1"), $"t1".as("c2"), $"t2".as("c3"))
          val perNode = tris.select($"c1".as("n"))
            .unionAll(tris.select($"c2".as("n")))
            .unionAll(tris.select($"c3".as("n")))
            .groupBy($"n").agg(count(lit(1)).as("n_triangles"))
          deg.join(perNode, Seq("n"), "left_outer")
            .select($"n".as("node"), $"deg",
              coalesce($"n_triangles", lit(0L)).as("n_triangles"))
            .withColumn("clustering_ppm",
              when($"deg" > 1,
                expr("(2 * n_triangles * 1000000) div (deg * (deg - 1))"))
                .otherwise(lit(0L)))
      }
    }, Some("""
      WITH raw AS (
        SELECT doc_id % 48 AS u, (doc_id * 7 + 5) % 48 AS v FROM documents
        UNION ALL
        SELECT doc_id % 48, (doc_id * 11 + 3) % 48 FROM documents
        UNION ALL
        SELECT (doc_id * 5 + 1) % 48, (doc_id * 13 + 7) % 48 FROM documents),
      und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
              FROM raw WHERE u <> v),
      deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
                SELECT a AS n FROM und UNION ALL SELECT b FROM und)
              GROUP BY 1),
      wo AS (SELECT und.a, und.b, da.deg * 64 + und.a AS oa,
                    db.deg * 64 + und.b AS ob
             FROM und JOIN deg da ON da.n = und.a
                      JOIN deg db ON db.n = und.b),
      ori AS (SELECT CASE WHEN oa < ob THEN a ELSE b END AS src,
                     CASE WHEN oa < ob THEN b ELSE a END AS dst,
                     CASE WHEN oa < ob THEN ob ELSE oa END AS odst
              FROM wo),
      tris AS (SELECT e1.src AS c1, e1.dst AS c2, e2.dst AS c3
               FROM ori e1 JOIN ori e2 ON e1.src = e2.src
                 AND e1.odst < e2.odst
               JOIN ori cl ON cl.src = e1.dst AND cl.dst = e2.dst),
      pn AS (SELECT n, CAST(count(*) AS BIGINT) AS n_triangles FROM (
               SELECT c1 AS n FROM tris UNION ALL SELECT c2 FROM tris
               UNION ALL SELECT c3 FROM tris) GROUP BY 1)
      SELECT deg.n AS node, deg.deg,
        coalesce(pn.n_triangles, 0) AS n_triangles,
        CASE WHEN deg.deg > 1 THEN
          (2 * coalesce(pn.n_triangles, 0) * 1000000)
            // (deg.deg * (deg.deg - 1))
        ELSE 0 END AS clustering_ppm
      FROM deg LEFT JOIN pn ON pn.n = deg.n""")),

    // First-order Markov transition matrix over the event stream (the
    // behavioral-model fit behind q97's pattern matching): per
    // (from_type, to_type) transition count and row-normalized
    // probability in ppm, with deterministic (epoch, event_id) total
    // order. Scale shape: ONE user-partitioned lead window (bounded by
    // a user's history) + a map-side-combined (from, to) agg; the
    // row-normalizing join is on the 5-value event-type registry, so
    // everything after the first agg is registry-sized at any corpus.
    Q("q169_markov_transitions", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ep".asc, $"event_id".asc)
      val trans = t(s, d, "events")
        .select($"user_id", $"event_id", $"event_type",
          unix_micros($"ts".cast("timestamp")).as("ep"))
        .withColumn("to_type", lead($"event_type", 1).over(w))
        .filter($"to_type".isNotNull)
        .groupBy($"event_type".as("from_type"), $"to_type")
        .agg(count(lit(1)).as("n"))
      val totals = trans.groupBy($"from_type")
        .agg(sum($"n").as("from_total"))
      trans.join(totals, "from_type")
        .select($"from_type", $"to_type", $"n",
          expr("(n * 1000000) div from_total").as("p_ppm"))
    }, Some("""
      WITH tr AS (
        SELECT event_type AS from_type,
          lead(event_type) OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts) ASC, event_id ASC) AS to_type
        FROM events),
      cnt AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
              FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS from_total
              FROM cnt GROUP BY 1)
      SELECT cnt.from_type, cnt.to_type, cnt.n,
        (cnt.n * 1000000) // tot.from_total AS p_ppm
      FROM cnt JOIN tot ON tot.from_type = cnt.from_type""")),

    // Market-basket association (support / confidence / lift over
    // co-ordered part classes): the affinity analysis a retail-shaped
    // corpus runs before bundling or recommendation. Items are part
    // classes (l_partkey % 100, a bounded registry); pairs explode
    // from per-order sorted basket sets, so fan-out is C(basket, 2)
    // per order — bounded by the per-order line cap (7 in TPC-H),
    // NEVER corpus x corpus. Scale shape: ONE order-keyed map-side-
    // combined basket agg feeds pair/item/order counts; item counts
    // join on the <= 100-row class registry (AQE-adjudicated); only
    // the 1-row order total broadcasts. Lift's cross-multiplied form
    // is cast to double
    // per-count BEFORE multiplying (no int64 overflow at any scale;
    // identical IEEE tree both engines), floored once to milli.
    Q("q173_basket_lift", (s, d) => {
      import s.implicits._
      // ONE basket agg replaces distinct + self-join (q208's own
      // explode convention, round-15 opt): collect_set dedups map-side,
      // so the raw (ok, item) rows reach a SINGLE order-keyed exchange
      // as partial sets — the self-join form shuffled the distinct
      // frame three times (distinct + both join sides). Pairs explode
      // from the sorted set (fan-out C(basket, 2), bounded by the
      // per-order line cap) and map-side-combine into the <= C(100, 2)
      // class-pair grid. Persisted: baskets feeds nOrders + itemN +
      // the pair explode (3 consumers).
      val baskets = t(s, d, "lineitem")
        .select($"l_orderkey".as("ok"), ($"l_partkey" % 100).as("item"))
        .groupBy($"ok").agg(sort_array(collect_set($"item")).as("its"))
        .persist()
      val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
      val itemN = baskets.select(explode($"its").as("item"))
        .groupBy($"item").agg(count(lit(1)).as("n_item"))
      PairOps.pairCounts(baskets, "its", "item_a", "item_b", "n_ab")
        .filter($"n_ab" >= 5)
        .join(itemN.select($"item".as("item_a"), $"n_item".as("n_a")),
          "item_a")
        .join(itemN.select($"item".as("item_b"), $"n_item".as("n_b")),
          "item_b")
        .join(broadcast(nOrders))
        .select($"item_a", $"item_b", $"n_ab", $"n_a", $"n_b",
          expr("(n_ab * 1000000) div n_orders").as("supp_ppm"),
          expr("(n_ab * 1000000) div n_a").as("conf_a_ppm"),
          floor($"n_ab".cast("double") * $"n_orders".cast("double") /
            ($"n_a".cast("double") * $"n_b".cast("double")) * 1000)
            .cast("long").as("lift_milli"))
    }, Some("""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok,
                       l_partkey % 100 AS item FROM lineitem),
      n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
      ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
             FROM items GROUP BY 1),
      pc AS (SELECT a.item AS item_a, b.item AS item_b,
               CAST(count(*) AS BIGINT) AS n_ab
             FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
             GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT pc.item_a, pc.item_b, pc.n_ab,
        ia.n_item AS n_a, ib.n_item AS n_b,
        (pc.n_ab * 1000000) // n.n_orders AS supp_ppm,
        (pc.n_ab * 1000000) // ia.n_item AS conf_a_ppm,
        CAST(floor(CAST(pc.n_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE) /
          (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)) * 1000)
          AS BIGINT) AS lift_milli
      FROM pc JOIN ic ia ON ia.item = pc.item_a
              JOIN ic ib ON ib.item = pc.item_b
              CROSS JOIN n""")),

    // A/B experiment readout (two-proportion z in integer milli): users
    // hash-split into two variants (the q84 pure-hash assignment —
    // rerun/engine/repartition-stable), conversion = a purchase within
    // the user's FIRST DAY (a data-driven rate that is neither 0 nor 1,
    // unlike "ever purchased" which saturates). Scale shape: one
    // user-partitioned min-window (bounded by a user's history), one
    // per-user agg, then a 2-row variant frame collapsed by
    // conditional aggregation — no joins at all; the z formula's
    // double tree is written identically in both engines with each
    // count cast before any arithmetic, floored once to milli, and
    // guarded against the degenerate all/none-converted pools.
    Q("q174_ab_readout", (s, d) => {
      import s.implicits._
      val wU = Window.partitionBy($"user_id")
      val per = t(s, d, "events")
        .select($"user_id", $"event_type",
          unix_micros($"ts".cast("timestamp")).as("ep"))
        .withColumn("ep0", min($"ep").over(wU))
        .groupBy($"user_id")
        .agg(max(when($"event_type" === "purchase" &&
          $"ep" <= $"ep0" + 86400000000L, 1L).otherwise(0L)).as("conv"))
        .select($"user_id", CorpusOps.hashMix($"user_id", 2L).as("variant"),
          $"conv")
      val r = per.groupBy($"variant")
        .agg(count(lit(1)).as("n"), sum($"conv").as("k"))
        .agg(sum(when($"variant" === 0, $"n")).as("n_a"),
          sum(when($"variant" === 0, $"k")).as("k_a"),
          sum(when($"variant" === 1, $"n")).as("n_b"),
          sum(when($"variant" === 1, $"k")).as("k_b"))
      r.select($"n_a", $"k_a", $"n_b", $"k_b",
        expr("(k_a * 1000000) div n_a").as("p_a_ppm"),
        expr("(k_b * 1000000) div n_b").as("p_b_ppm"),
        when($"k_a" + $"k_b" === 0 ||
          $"k_a" + $"k_b" === $"n_a" + $"n_b", lit(0L))
          .otherwise(floor(
            ($"k_a".cast("double") / $"n_a".cast("double") -
              $"k_b".cast("double") / $"n_b".cast("double")) /
            sqrt((($"k_a" + $"k_b").cast("double") /
                ($"n_a" + $"n_b").cast("double")) *
              (lit(1.0) - ($"k_a" + $"k_b").cast("double") /
                ($"n_a" + $"n_b").cast("double")) *
              (lit(1.0) / $"n_a".cast("double") +
                lit(1.0) / $"n_b".cast("double"))) * 1000)
            .cast("long")).as("z_milli"))
    }, Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ep,
                   min(epoch_us(ts)) OVER (PARTITION BY user_id) AS ep0
                 FROM events),
      per AS (SELECT user_id,
                ((user_id % 1000003) * 2654435761 + 40503) % 2 AS variant,
                max(CASE WHEN event_type = 'purchase'
                    AND ep <= ep0 + 86400000000 THEN 1 ELSE 0 END) AS conv
              FROM e GROUP BY 1, 2),
      v AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(conv) AS BIGINT) AS k FROM per GROUP BY 1),
      r AS (SELECT
              CAST(sum(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n_a,
              CAST(sum(CASE WHEN variant = 0 THEN k END) AS BIGINT) AS k_a,
              CAST(sum(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n_b,
              CAST(sum(CASE WHEN variant = 1 THEN k END) AS BIGINT) AS k_b
            FROM v)
      SELECT n_a, k_a, n_b, k_b,
        (k_a * 1000000) // n_a AS p_a_ppm,
        (k_b * 1000000) // n_b AS p_b_ppm,
        CASE WHEN k_a + k_b = 0 OR k_a + k_b = n_a + n_b THEN 0
          ELSE CAST(floor(
            (CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
              CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
            sqrt((CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
              (1.0 - CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
              (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
            * 1000) AS BIGINT) END AS z_milli
      FROM r""")),

    // Hour-of-day seasonality profile per event type (the periodic
    // baseline q119's rolling anomaly window normalizes against,
    // extracted as an explicit index): share of the type's events in
    // each UTC hour slot and the seasonal index vs a uniform profile
    // (1e6 = flat). Scale shape: ONE (type, hour) map-side-combined
    // agg; the normalizing join is on the 5-value type registry;
    // everything after the first agg is <= types x 24 rows at any
    // event volume; all-integer ppm arithmetic.
    Q("q178_seasonality", (s, d) => {
      import s.implicits._
      val byHour = t(s, d, "events")
        .select($"event_type", hour($"ts".cast("timestamp")).as("hod"))
        .groupBy($"event_type", $"hod").agg(count(lit(1)).as("n"))
      val totals = byHour.groupBy($"event_type")
        .agg(sum($"n").as("total"))
      byHour.join(totals, "event_type")
        .select($"event_type", $"hod".cast("long").as("hod"), $"n",
          expr("(n * 1000000) div total").as("share_ppm"),
          expr("(n * 24 * 1000000) div total").as("index_ppm"))
    }, Some("""
      WITH h AS (SELECT event_type, hour(ts) AS hod,
                   CAST(count(*) AS BIGINT) AS n
                 FROM events GROUP BY 1, 2),
      t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total
            FROM h GROUP BY 1)
      SELECT h.event_type, CAST(h.hod AS BIGINT) AS hod, h.n,
        (h.n * 1000000) // t.total AS share_ppm,
        (h.n * 24 * 1000000) // t.total AS index_ppm
      FROM h JOIN t ON t.event_type = h.event_type""")),

    // Survivorship merge / golden record (the record-consolidation
    // step after entity resolution): per user, the most recent payload
    // value from EACH event stream collapsed into one wide row —
    // last-wins per (user, stream) with a (epoch, event_id) total
    // order, missing streams surfaced as -1 (no cross-engine NULLs).
    // Scale shape: one (user, stream)-partitioned row_number window
    // (bounded by a user's history — and swap-eligible for
    // TopKPerKeyExec), then ONE map-side-combined per-user conditional
    // pivot; no joins.
    Q("q179_golden_record", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ep".desc, $"event_id".desc)
      val last = t(s, d, "events")
        .select($"user_id", $"event_type", $"event_id",
          unix_micros($"ts".cast("timestamp")).as("ep"),
          get_json_object($"props", "$.k").cast("long").as("k"))
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      last.groupBy($"user_id")
        .agg(count(lit(1)).as("n_streams"),
          coalesce(max(when($"event_type" === "view", $"k")), lit(-1L))
            .as("last_view_k"),
          coalesce(max(when($"event_type" === "click", $"k")), lit(-1L))
            .as("last_click_k"),
          coalesce(max(when($"event_type" === "purchase", $"k")), lit(-1L))
            .as("last_purchase_k"),
          coalesce(max(when($"event_type" === "signup", $"k")), lit(-1L))
            .as("last_signup_k"),
          coalesce(max(when($"event_type" === "error", $"k")), lit(-1L))
            .as("last_error_k"))
    }, Some("""
      WITH e AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS ep,
          CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id, event_type
          ORDER BY ep DESC, event_id DESC) = 1)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_streams,
        coalesce(max(CASE WHEN event_type = 'view' THEN k END), -1)
          AS last_view_k,
        coalesce(max(CASE WHEN event_type = 'click' THEN k END), -1)
          AS last_click_k,
        coalesce(max(CASE WHEN event_type = 'purchase' THEN k END), -1)
          AS last_purchase_k,
        coalesce(max(CASE WHEN event_type = 'signup' THEN k END), -1)
          AS last_signup_k,
        coalesce(max(CASE WHEN event_type = 'error' THEN k END), -1)
          AS last_error_k
      FROM e GROUP BY 1""")),

    // Token-mass-weighted length quantiles per language (q60's
    // unweighted sibling, and the number a PACKING budget actually
    // needs: "docs up to WHAT length cover 50% / 90% of the token
    // mass?" — long docs dominate mass, so the weighted p90 sits far
    // above the doc-count p90). Quantile = min length with cumulative
    // mass * 10 >= p * total, exact over the DISTINCT length grid.
    // Scale shape: ONE (lang, ntok) map-side-combined agg collapses
    // the corpus to the per-lang value grid (value-domain bounded,
    // q110 argument); the cum window rides that grid partitioned by
    // lang; the quantile pick is a <= grid-sized agg; all integers.
    Q("q180_mass_quantiles", (s, d) => {
      import s.implicits._
      val grid = t(s, d, "documents")
        .select($"lang", size(TextOps.tokens($"text")).cast("long").as("ntok"))
        .groupBy($"lang", $"ntok").agg(sum($"ntok").as("mass"))
      val wL = Window.partitionBy($"lang").orderBy($"ntok".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid
        .withColumn("cum", sum($"mass").over(wL))
        .withColumn("total", sum($"mass").over(Window.partitionBy($"lang")))
        .groupBy($"lang")
        .agg(max($"total").as("total_tokens"),
          min(when($"cum" * 10 >= $"total" * 5, $"ntok")).as("p50_mass_len"),
          min(when($"cum" * 10 >= $"total" * 9, $"ntok")).as("p90_mass_len"))
    }, Some("""
      WITH g AS (SELECT lang, CAST(len(string_split_regex(trim(text), '\s+'))
                   AS BIGINT) AS ntok
                 FROM documents),
      m AS (SELECT lang, ntok, CAST(sum(ntok) AS BIGINT) AS mass
            FROM g GROUP BY 1, 2),
      c AS (SELECT lang, ntok, mass,
              CAST(sum(mass) OVER (PARTITION BY lang ORDER BY ntok ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum,
              CAST(sum(mass) OVER (PARTITION BY lang) AS BIGINT) AS total
            FROM m)
      SELECT lang, CAST(max(total) AS BIGINT) AS total_tokens,
        CAST(min(CASE WHEN cum * 10 >= total * 5 THEN ntok END) AS BIGINT)
          AS p50_mass_len,
        CAST(min(CASE WHEN cum * 10 >= total * 9 THEN ntok END) AS BIGINT)
          AS p90_mass_len
      FROM c GROUP BY 1""")),

    // Join-key skew report (the DIAGNOSIS that precedes q42/q82's
    // salting cures): frequency distribution of lineitem's order key —
    // key count, row count, max/p50/p99 per-key frequency, the top
    // key's row share, and the max/mean skew factor. Everything after
    // the first agg rides the DISTINCT frequency grid: the number of
    // distinct per-key frequencies is value-domain bounded (q110
    // argument — a power-law key space still has few distinct counts),
    // so the cum windows and the final 1-row fold never see
    // key-cardinality rows. Integer cross-multiplied comparisons.
    Q("q181_skew_report", (s, d) => {
      import s.implicits._
      val freq = t(s, d, "lineitem")
        .groupBy($"l_orderkey").agg(count(lit(1)).as("f"))
      val grid = freq.groupBy($"f").agg(count(lit(1)).as("nk"))
      val wF = Window.orderBy($"f".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      grid
        .withColumn("cumk", sum($"nk").over(wF))
        .withColumn("tk", sum($"nk").over(wAll))
        .withColumn("tr", sum($"f" * $"nk").over(wAll))
        .agg(max($"tk").as("n_keys"), max($"tr").as("n_rows"),
          max($"f").as("max_freq"),
          min(when($"cumk" * 100 >= $"tk" * 50, $"f")).as("p50_freq"),
          min(when($"cumk" * 100 >= $"tk" * 99, $"f")).as("p99_freq"))
        .select($"n_keys", $"n_rows", $"max_freq", $"p50_freq", $"p99_freq",
          expr("(max_freq * 1000000) div n_rows").as("top1_share_ppm"),
          expr("(max_freq * n_keys * 1000) div n_rows").as("skew_milli"))
    }, Some("""
      WITH f AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS f
                 FROM lineitem GROUP BY 1),
      g AS (SELECT f, CAST(count(*) AS BIGINT) AS nk FROM f GROUP BY 1),
      c AS (SELECT f, nk,
              CAST(sum(nk) OVER (ORDER BY f ASC ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS cumk,
              CAST(sum(nk) OVER () AS BIGINT) AS tk,
              CAST(sum(f * nk) OVER () AS BIGINT) AS tr
            FROM g),
      a AS (SELECT CAST(max(tk) AS BIGINT) AS n_keys,
              CAST(max(tr) AS BIGINT) AS n_rows,
              CAST(max(f) AS BIGINT) AS max_freq,
              CAST(min(CASE WHEN cumk * 100 >= tk * 50 THEN f END)
                AS BIGINT) AS p50_freq,
              CAST(min(CASE WHEN cumk * 100 >= tk * 99 THEN f END)
                AS BIGINT) AS p99_freq
            FROM c)
      SELECT n_keys, n_rows, max_freq, p50_freq, p99_freq,
        (max_freq * 1000000) // n_rows AS top1_share_ppm,
        (max_freq * n_keys * 1000) // n_rows AS skew_milli
      FROM a""")),

    // SCD-1 upsert merge (MERGE INTO semantics in plain Spark — the
    // CDC-apply step downstream of q144's snapshot diff): a base
    // snapshot full-outer-joined with a change batch whose ops are
    // delete > upsert by precedence; deletes drop the row, upserts
    // update-or-insert, untouched base rows pass through, and every
    // surviving row carries its provenance. Op assignment is
    // deterministic (doc_id residues) so the oracle replays it. Scale
    // shape: ONE id-keyed full-outer-shaped join, both sides
    // corpus-growing, neither broadcast (q144's shape); everything
    // else row-local.
    Q("q182_upsert_merge", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select($"doc_id", $"n_chars")
      val base = docs.filter($"doc_id" % 3 =!= 0)
        .select($"doc_id", $"n_chars".as("v0"))
      val delta = docs.filter($"doc_id" % 5 === 0 || $"doc_id" % 4 === 0 ||
          $"doc_id" % 3 === 0)
        .select($"doc_id",
          when($"doc_id" % 5 === 0, lit("delete")).otherwise(lit("upsert"))
            .as("op"),
          ($"n_chars" + 1000).as("v1"))
      base.join(delta, Seq("doc_id"), "full_outer")
        .filter(coalesce($"op", lit("")) =!= "delete")
        .select($"doc_id",
          when($"op" === "upsert", $"v1").otherwise($"v0").as("v"),
          when($"op".isNull, lit("base"))
            .when($"v0".isNull, lit("inserted")).otherwise(lit("updated"))
            .as("provenance"))
    }, Some("""
      WITH docs AS (SELECT doc_id, n_chars FROM documents),
      base AS (SELECT doc_id, n_chars AS v0 FROM docs WHERE doc_id % 3 <> 0),
      delta AS (SELECT doc_id,
                  CASE WHEN doc_id % 5 = 0 THEN 'delete' ELSE 'upsert' END
                    AS op,
                  n_chars + 1000 AS v1
                FROM docs
                WHERE doc_id % 5 = 0 OR doc_id % 4 = 0 OR doc_id % 3 = 0)
      SELECT coalesce(base.doc_id, delta.doc_id) AS doc_id,
        CAST(CASE WHEN delta.op = 'upsert' THEN delta.v1
             ELSE base.v0 END AS BIGINT) AS v,
        CASE WHEN delta.op IS NULL THEN 'base'
             WHEN base.v0 IS NULL THEN 'inserted'
             ELSE 'updated' END AS provenance
      FROM base FULL OUTER JOIN delta ON base.doc_id = delta.doc_id
      WHERE coalesce(delta.op, '') <> 'delete'""")),

    // Per-source OLS trend slope of quality over ingest order (the
    // drift DIRECTION q143's KS gap can't give: is this source getting
    // better or worse?): closed-form least squares on (doc_id - source
    // min, qmilli), moment sums as exact integers, ONE double division
    // floored to nano units. x is centered per source so the moment
    // sums stay in int64 headroom; at 10^12-row sources the sums move
    // to DECIMAL (q159's documented upgrade path). Scale shape: the
    // min-center window and the moment agg are both source-keyed
    // map-side-combinable passes; output is registry-sized.
    Q("q183_trend_slope", (s, d) => {
      import s.implicits._
      val wS = Window.partitionBy($"source")
      val m = t(s, d, "documents")
        .select($"doc_id", $"source",
          floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("y"))
        .withColumn("x", $"doc_id" - min($"doc_id").over(wS))
        .groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      m.select($"source", $"n",
        when($"n" * $"sxx" - $"sx" * $"sx" === 0, lit(0L))
          .otherwise(floor(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n" * $"sxx" - $"sx" * $"sx").cast("double") * 1000000000d)
            .cast("long")).as("slope_nano"))
    }, Some("""
      WITH q AS (
        SELECT doc_id, source,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS y
        FROM documents),
      x AS (SELECT source, doc_id - min(doc_id) OVER (PARTITION BY source)
              AS x, y FROM q),
      m AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              CAST(sum(x * y) AS BIGINT) AS sxy,
              CAST(sum(x * x) AS BIGINT) AS sxx
            FROM x GROUP BY 1)
      SELECT source, n,
        CASE WHEN n * sxx - sx * sx = 0 THEN 0
          ELSE CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE) /
            CAST(n * sxx - sx * sx AS DOUBLE) * 1000000000) AS BIGINT)
          END AS slope_nano
      FROM m""")),

    // Event-lateness histogram (the measurement that SIZES a streaming
    // watermark instead of guessing it): per event, lateness = the
    // user's max event-time seen so far IN ARRIVAL ORDER (event_id)
    // minus this event's time; bucketed to minutes (capped at 60) with
    // cumulative ppm — "a 7-minute watermark covers 99.4% of events"
    // reads straight off the result. Scale shape: ONE user-partitioned
    // running-max window (arrival-ordered, bounded by a user's
    // history) + a map-side-combined <= 61-row bucket agg; the cum
    // window rides the bounded bucket grid.
    Q("q185_lateness_histogram", (s, d) => {
      import s.implicits._
      // arrival time = event time + a deterministic 0-2 h transport
      // delay (pure-hash, q84 convention) — the generator writes events
      // in event-time order, so without modeled transport jitter every
      // lateness is 0 and the histogram is vacuous; 2 h is on the order
      // of this corpus's inter-event gaps, so real reordering occurs
      val w = Window.partitionBy($"user_id").orderBy($"arr".asc, $"event_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val buckets = t(s, d, "events")
        .select($"user_id", $"event_id",
          unix_micros($"ts".cast("timestamp")).as("ep"))
        .withColumn("arr",
          $"ep" + CorpusOps.hashMix($"event_id", 7200L) * 1000000L)
        .withColumn("late", max($"ep").over(w) - $"ep")
        .select(least(expr("late div 60000000"), lit(60L)).as("late_min"))
        .groupBy($"late_min").agg(count(lit(1)).as("n"))
      val wB = Window.orderBy($"late_min".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      buckets
        .withColumn("cum", sum($"n").over(wB))
        .withColumn("total", sum($"n").over(wAll))
        .select($"late_min", $"n",
          expr("(cum * 1000000) div total").as("cum_ppm"))
    }, Some("""
      WITH e0 AS (
        SELECT user_id, event_id, epoch_us(ts) AS ep,
          epoch_us(ts) + ((event_id % 1000003) * 2654435761 + 40503) % 7200
            * 1000000 AS arr
        FROM events),
      e AS (
        SELECT user_id, event_id, ep,
          max(ep) OVER (PARTITION BY user_id ORDER BY arr ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx
        FROM e0),
      b AS (SELECT least((mx - ep) // 60000000, 60) AS late_min,
              CAST(count(*) AS BIGINT) AS n
            FROM e GROUP BY 1),
      c AS (SELECT late_min, n,
              CAST(sum(n) OVER (ORDER BY late_min ASC ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
              CAST(sum(n) OVER () AS BIGINT) AS total
            FROM b)
      SELECT late_min, n, (cum * 1000000) // total AS cum_ppm FROM c""")),

    // Skew-salt advisor (turns q82's hardcoded salt factor into a
    // DERIVED number): per candidate join key (event_type — the classic
    // low-cardinality skew key), row count, share, and the salt factor
    // ceil(rows / budget) a co-partitioned join would need to keep
    // every salted partition under the row budget (1000 here — a
    // deployment knob standing in for bytes-per-partition / row
    // width). Scale shape: ONE map-side-combined key agg collapses the
    // stream to the key registry; the total is a registry sum joined
    // back; all advisory arithmetic row-local on registry rows.
    Q("q215_salt_advisor", (s, d) => {
      import s.implicits._
      val counts = t(s, d, "events")
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum($"n").as("t"))
      counts.crossJoin(broadcast(tot))
        .select($"event_type", $"n",
          expr("(n * 1000000) div t").as("share_ppm"),
          when($"n" > 1000, 1L).otherwise(0L).as("needs_salt"),
          expr("(n + 999) div 1000").as("salt_factor"))
    }, Some("""
      WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
      t AS (SELECT sum(n) AS t FROM c)
      SELECT event_type, CAST(n AS BIGINT) AS n,
        CAST((n * 1000000) // t.t AS BIGINT) AS share_ppm,
        CAST(CASE WHEN n > 1000 THEN 1 ELSE 0 END AS BIGINT) AS needs_salt,
        CAST((n + 999) // 1000 AS BIGINT) AS salt_factor
      FROM c CROSS JOIN t""")),

    // Watermark advisor (closes q185's loop: from the lateness
    // distribution to the `withWatermark` setting a streaming job
    // should use): the smallest whole-minute watermark admitting 99%
    // and 99.9% of events, plus the observed max — the three numbers a
    // pipeline owner trades off against state size. Same q185
    // transport-delay model and capped 61-row bucket grid; the
    // advisory picks min(late_min) where cum_ppm crosses the target —
    // 1-row output from the bounded grid.
    Q("q216_watermark_advisor", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"arr".asc, $"event_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val buckets = t(s, d, "events")
        .select($"user_id", $"event_id",
          unix_micros($"ts".cast("timestamp")).as("ep"))
        .withColumn("arr",
          $"ep" + CorpusOps.hashMix($"event_id", 7200L) * 1000000L)
        .withColumn("late", max($"ep").over(w) - $"ep")
        .select(least(expr("late div 60000000"), lit(60L)).as("late_min"))
        .groupBy($"late_min").agg(count(lit(1)).as("n"))
      buckets
        .withColumn("cum_ppm",
          expr("(1000000 * sum(n) over (order by late_min asc rows between"
            + " unbounded preceding and current row)) div"
            + " sum(n) over (rows between unbounded preceding and"
            + " unbounded following)"))
        .agg(min(when($"cum_ppm" >= 990000, $"late_min")).as("wm_p99_min"),
          min(when($"cum_ppm" >= 999000, $"late_min")).as("wm_p999_min"),
          max($"late_min").as("wm_max_min"))
    }, Some("""
      WITH e0 AS (
        SELECT user_id, event_id, epoch_us(ts) AS ep,
          epoch_us(ts) + ((event_id % 1000003) * 2654435761 + 40503) % 7200
            * 1000000 AS arr
        FROM events),
      e AS (
        SELECT user_id, event_id, ep,
          max(ep) OVER (PARTITION BY user_id ORDER BY arr ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx
        FROM e0),
      b AS (SELECT least((mx - ep) // 60000000, 60) AS late_min,
              count(*) AS n
            FROM e GROUP BY 1),
      c AS (SELECT late_min,
              (1000000 * sum(n) OVER (ORDER BY late_min ASC ROWS BETWEEN
                UNBOUNDED PRECEDING AND CURRENT ROW))
                // sum(n) OVER () AS cum_ppm
            FROM b)
      SELECT CAST(min(CASE WHEN cum_ppm >= 990000 THEN late_min END)
          AS BIGINT) AS wm_p99_min,
        CAST(min(CASE WHEN cum_ppm >= 999000 THEN late_min END)
          AS BIGINT) AS wm_p999_min,
        CAST(max(late_min) AS BIGINT) AS wm_max_min
      FROM c""")),

    // Metric co-movement matrix (Pearson correlation of daily count
    // series between every event-type pair, integer milli): the
    // dashboard that separates "all metrics dipped together"
    // (infrastructure) from "one metric dipped alone" (product) — and
    // the q203 whitening audit's shape applied to TIME SERIES instead
    // of embedding dims. Exactness: two-pass centered products on the
    // day-grid (retention-bounded, q119 argument), correlation on
    // integer-fed doubles (correctly-rounded IEEE sqrt + divide)
    // floor-quantized to milli; signed values flow through floor on
    // doubles (identical both engines) — no integer division on
    // negatives anywhere. Scale shape: ONE (type, day) map-side-
    // combined agg collapses the stream; the day self-join fans out
    // type-registry-squared per day (<= C(5,2) pairs); means are
    // registry-sized equi-joins, unhinted.
    Q("q218_metric_comovement", (s, d) => {
      import s.implicits._
      val daily = t(s, d, "events")
        .select($"event_type",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("day"))
        .groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
      val mu = daily.groupBy($"event_type")
        .agg(count(lit(1)).as("nd"), sum($"n").as("sn"))
        .select($"event_type", $"nd", expr("sn div nd").as("mu"))
      val c = daily.join(mu, "event_type")
        .select($"event_type", $"day", ($"n" - $"mu").as("cc"))
      val a = c.select($"day", $"event_type".as("ta"), $"cc".as("ca"))
      val b = c.select($"day", $"event_type".as("tb"), $"cc".as("cb"))
      val prod = a.join(b, "day").filter($"ta" < $"tb")
        .groupBy($"ta", $"tb")
        .agg(count(lit(1)).as("n_days"), sum($"ca" * $"cb").as("sxy"),
          sum($"ca" * $"ca").as("sxx"), sum($"cb" * $"cb").as("syy"))
      prod.select($"ta".as("type_a"), $"tb".as("type_b"), $"n_days",
        expr("""CASE WHEN sxx = 0 OR syy = 0 THEN CAST(0 AS BIGINT)
          ELSE cast(floor(1000 * sxy /
            sqrt(cast(sxx as double) * cast(syy as double))) as bigint)
          END""").as("corr_milli"))
    }, Some("""
      WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          count(*) AS n
        FROM events GROUP BY 1, 2),
      mu AS (
        SELECT event_type, count(*) AS nd, sum(n) // count(*) AS mu
        FROM daily GROUP BY 1),
      c AS (
        SELECT daily.event_type, daily.day, daily.n - mu.mu AS cc
        FROM daily JOIN mu USING (event_type)),
      pr AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
          count(*) AS n_days, sum(a.cc * b.cc) AS sxy,
          sum(a.cc * a.cc) AS sxx, sum(b.cc * b.cc) AS syy
        FROM c a JOIN c b ON b.day = a.day AND b.event_type > a.event_type
        GROUP BY 1, 2)
      SELECT ta AS type_a, tb AS type_b, CAST(n_days AS BIGINT) AS n_days,
        CAST(CASE WHEN sxx = 0 OR syy = 0 THEN 0
          ELSE floor(1000 * sxy /
            sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)))
          END AS BIGINT) AS corr_milli
      FROM pr""")),

    // Nearest-event as-of join (the as-of family's third member after
    // last-before q47 and window-native q163: match to the CLOSEST
    // event in EITHER direction — sensor alignment, error-to-click
    // triage). Same union trick as q47, extended with a forward frame:
    // one user-partitioned pass computes last-click-at-or-before and
    // first-click-after, and a row-local comparison picks the nearer
    // (ties -> the earlier click). No self-join, no inequality join.
    // Scale shape: ONE (ts, tag, id)-ordered window per user (bounded
    // by a user's history); unmatched probes surface as -1/0 (no
    // cross-engine NULLs).
    Q("q187_asof_nearest", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select($"user_id", $"event_id", $"event_type",
          unix_micros($"ts".cast("timestamp")).as("ep"))
      val probes = ev.filter($"event_type" === "error")
        .select($"user_id", $"event_id".as("eid"), $"ep",
          lit(1L).as("tag"), lit(null).cast("long").as("cid"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("eid"), $"ep",
          lit(0L).as("tag"), $"event_id".as("cid"))
      val u = probes.unionByName(clicks)
      val ord = Window.partitionBy($"user_id")
        .orderBy($"ep".asc, $"tag".asc, $"eid".asc)
      val wPrev = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = ord.rowsBetween(1, Window.unboundedFollowing)
      u
        .withColumn("pcid", last($"cid", ignoreNulls = true).over(wPrev))
        .withColumn("pts",
          last(when($"tag" === 0, $"ep"), ignoreNulls = true).over(wPrev))
        .withColumn("ncid", first($"cid", ignoreNulls = true).over(wNext))
        .withColumn("nts",
          first(when($"tag" === 0, $"ep"), ignoreNulls = true).over(wNext))
        .filter($"tag" === 1)
        .select($"user_id", $"eid".as("error_id"),
          when($"pcid".isNull && $"ncid".isNull, lit(-1L))
            .when($"ncid".isNull, $"pcid")
            .when($"pcid".isNull, $"ncid")
            .when($"nts" - $"ep" < $"ep" - $"pts", $"ncid")
            .otherwise($"pcid").as("click_id"),
          when($"pcid".isNull && $"ncid".isNull, lit(0L))
            .when($"ncid".isNull, $"pts" - $"ep")
            .when($"pcid".isNull, $"nts" - $"ep")
            .when($"nts" - $"ep" < $"ep" - $"pts", $"nts" - $"ep")
            .otherwise($"pts" - $"ep").as("delta_us"))
    }, Some("""
      WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ep
                  FROM events),
      u AS (
        SELECT user_id, event_id AS eid, ep, 1 AS tag,
          CAST(NULL AS BIGINT) AS cid
        FROM ev WHERE event_type = 'error'
        UNION ALL
        SELECT user_id, event_id, ep, 0, event_id
        FROM ev WHERE event_type = 'click'),
      x AS (
        SELECT user_id, eid, ep, tag,
          last_value(cid IGNORE NULLS) OVER (PARTITION BY user_id
            ORDER BY ep ASC, tag ASC, eid ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pcid,
          last_value(CASE WHEN tag = 0 THEN ep END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ep ASC, tag ASC, eid ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pts,
          first_value(cid IGNORE NULLS) OVER (PARTITION BY user_id
            ORDER BY ep ASC, tag ASC, eid ASC
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ncid,
          first_value(CASE WHEN tag = 0 THEN ep END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ep ASC, tag ASC, eid ASC
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nts
        FROM u)
      SELECT user_id, eid AS error_id,
        CAST(CASE WHEN pcid IS NULL AND ncid IS NULL THEN -1
             WHEN ncid IS NULL THEN pcid
             WHEN pcid IS NULL THEN ncid
             WHEN nts - ep < ep - pts THEN ncid
             ELSE pcid END AS BIGINT) AS click_id,
        CAST(CASE WHEN pcid IS NULL AND ncid IS NULL THEN 0
             WHEN ncid IS NULL THEN pts - ep
             WHEN pcid IS NULL THEN nts - ep
             WHEN nts - ep < ep - pts THEN nts - ep
             ELSE pts - ep END AS BIGINT) AS delta_us
      FROM x WHERE tag = 1""")),

    // Clickstream path mining (the top behavioral 3-grams q97's single
    // pattern can't rank): sessionize (30-min gap, q26 semantics),
    // take every in-session 3-step event-type path, count, and keep
    // the global top-10. Scale shape: sessionization + the two leads
    // are ONE user-partitioned window pass (bounded by a user's
    // history); the path space is the type-registry cubed (<= 125), so
    // the count agg is registry-sized and the top-10 is a
    // TakeOrdered limit — no window over the corpus, no shuffle after
    // the first agg.
    Q("q189_path_mining", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ep".asc, $"event_id".asc)
      val sess = t(s, d, "events")
        .select($"user_id", $"event_id", $"event_type",
          unix_micros($"ts".cast("timestamp")).as("ep"))
        .withColumn("prev", lag($"ep", 1).over(w))
        .withColumn("nw",
          when($"prev".isNull || $"ep" - $"prev" > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sid",
          sum($"nw").over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      val wS = Window.partitionBy($"user_id", $"sid")
        .orderBy($"ep".asc, $"event_id".asc)
      sess
        .withColumn("t1", lead($"event_type", 1).over(wS))
        .withColumn("t2", lead($"event_type", 2).over(wS))
        .filter($"t1".isNotNull && $"t2".isNotNull)
        .select(concat($"event_type", lit(">"), $"t1", lit(">"), $"t2")
          .as("path"))
        .groupBy($"path").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"path".asc)
        .limit(10)
    }, Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ep,
          lag(epoch_us(ts)) OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev
        FROM events),
      s AS (
        SELECT user_id, event_id, event_type, ep,
          sum(CASE WHEN prev IS NULL OR ep - prev > 1800000000
              THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
            ORDER BY ep ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM e),
      p AS (
        SELECT event_type || '>' ||
          lead(event_type, 1) OVER (PARTITION BY user_id, sid
            ORDER BY ep ASC, event_id ASC) || '>' ||
          lead(event_type, 2) OVER (PARTITION BY user_id, sid
            ORDER BY ep ASC, event_id ASC) AS path
        FROM s
        QUALIFY lead(event_type, 1) OVER (PARTITION BY user_id, sid
            ORDER BY ep ASC, event_id ASC) IS NOT NULL
          AND lead(event_type, 2) OVER (PARTITION BY user_id, sid
            ORDER BY ep ASC, event_id ASC) IS NOT NULL)
      SELECT path, CAST(count(*) AS BIGINT) AS n
      FROM p GROUP BY 1
      ORDER BY n DESC, path ASC LIMIT 10""")),

    // Week-over-week growth report (the trend dashboard q178's static
    // profile feeds into): per (event_type, epoch-week) event count and
    // value mass, each with signed permille growth vs the previous
    // week. Weeks are integer epoch-week indices (ep div 604800e6) —
    // no cross-engine calendar arithmetic. Scale shape: ONE
    // map-side-combined (type, week) agg collapses the stream; the lag
    // windows ride the per-type weekly series (grows with retention
    // time, ~52 rows/type/year — q119's argument), partitioned by
    // type; integer permille with zero-previous guarded to 0.
    Q("q190_wow_growth", (s, d) => {
      import s.implicits._
      val wk = t(s, d, "events")
        .select($"event_type",
          expr("unix_micros(cast(ts as timestamp)) div 604800000000")
            .as("week"),
          floor($"value" * 1000).cast("long").as("vm"))
        .groupBy($"event_type", $"week")
        .agg(count(lit(1)).as("n"), sum($"vm").as("value_milli"))
      val w = Window.partitionBy($"event_type").orderBy($"week".asc)
      wk
        .withColumn("pn", lag($"n", 1).over(w))
        .withColumn("pv", lag($"value_milli", 1).over(w))
        // negative growth divides identically in both engines: Spark
        // `div` and DuckDB `//` both truncate toward zero on integers
        // (measured -7//2 = -3 in DuckDB)
        .select($"event_type", $"week", $"n", $"value_milli",
          when($"pn".isNull || $"pn" === 0, lit(0L))
            .otherwise(expr("((n - pn) * 1000) div pn")).as("n_growth_pml"),
          when($"pv".isNull || $"pv" === 0, lit(0L))
            .otherwise(expr("((value_milli - pv) * 1000) div pv"))
            .as("value_growth_pml"))
    }, Some("""
      WITH wk AS (
        SELECT event_type, epoch_us(ts) // 604800000000 AS week,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
            AS value_milli
        FROM events GROUP BY 1, 2),
      l AS (
        SELECT event_type, week, n, value_milli,
          lag(n) OVER (PARTITION BY event_type ORDER BY week ASC) AS pn,
          lag(value_milli) OVER (PARTITION BY event_type ORDER BY week ASC)
            AS pv
        FROM wk)
      SELECT event_type, week, n, value_milli,
        CAST(CASE WHEN pn IS NULL OR pn = 0 THEN 0
          ELSE ((n - pn) * 1000) // pn END AS BIGINT) AS n_growth_pml,
        CAST(CASE WHEN pv IS NULL OR pv = 0 THEN 0
          ELSE ((value_milli - pv) * 1000) // pv END AS BIGINT)
          AS value_growth_pml
      FROM l""")),

    // k-core decomposition (3 unrolled peeling rounds, k = 12): the
    // graph-density ladder behind community/spam detection — a node
    // survives round r if it keeps >= k neighbors among round-(r-1)
    // survivors. Graph: the deterministic hashMix node mapping over a
    // 64-node registry (denser than q139's modular host graph, so
    // peeling actually bites at sf0.01). Scale shape: the edge list
    // aggregates the corpus to <= C(64,2) distinct undirected pairs in
    // ONE map-side-combined distinct — the only corpus-scale stage at
    // ANY SF; the 3-round peel then runs on the driver below the
    // CorpusOps.boundedRows gate (measured 3.7 s -> sub-second: 15+
    // scheduler round-trips on a 2016-edge frame were pure overhead),
    // with the node-keyed BSP loop unchanged above the cap.
    Q("q193_kcore", (s, d) => {
      import s.implicits._
      // node mapping MUST be a real hash: the affine hashMix collapses
      // mod-64 to a functional 64-edge graph (y becomes a linear
      // function of x — measured: every node degree exactly 2), so the
      // endpoints come from the positional-md5 hv32 family instead
      // (salted 'a'/'b' so the two endpoints are independent)
      val k = 12
      val hx = DedupOps.hv32FromHexSql("md5(concat('a', cast(doc_id as string)))")
      val hy = DedupOps.hv32FromHexSql("md5(concat('b', cast(doc_id as string)))")
      val edges0 = t(s, d, "documents")
        .select(expr(s"$hx % 64").as("x"), expr(s"$hy % 64").as("y"))
        .filter($"x" =!= $"y")
        .select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))
        .distinct()
      CorpusOps.boundedRows(edges0) match {
        case Some(rows) =>
          // driver peel: same semantics as the BSP branch below —
          // deg counts (node, nbr) adjacency rows whose BOTH ends are
          // alive; survivors keep deg >= k; 3 fixed rounds reported
          // even when empty (coalesced 0 min/max, the oracle contract)
          val ed = rows.map(r => (r.getLong(0), r.getLong(1)))
          val adjL = ed.flatMap { case (a, b) => Seq((a, b), (b, a)) }
          var alive: Set[Long] = adjL.map(_._1).toSet
          val out = (1 to 3).map { i =>
            val deg = adjL.filter(p => alive(p._1) && alive(p._2))
              .groupBy(_._1).view.mapValues(_.length.toLong)
              .filter(_._2 >= k).toMap
            alive = deg.keySet
            (i.toLong, deg.size.toLong,
              if (deg.isEmpty) 0L else deg.values.min,
              if (deg.isEmpty) 0L else deg.values.max)
          }
          out.toDF("round", "nodes_alive", "min_deg", "max_deg")
        case None =>
          val edges = edges0 // boundedRows left it persisted on the None path
          val adj = edges.select($"a".as("node"), $"b".as("nbr"))
            .union(edges.select($"b".as("node"), $"a".as("nbr")))
          def peel(alive: org.apache.spark.sql.DataFrame) = {
            val live = adj
              .join(alive.select($"node"), Seq("node"), "left_semi")
              .join(alive.select($"node".as("nbr")), Seq("nbr"), "left_semi")
            live.groupBy($"node").agg(count(lit(1)).as("deg"))
              .filter($"deg" >= k)
          }
          // each peel references the previous frontier TWICE (both
          // semi-join ends), so an unmaterialized recursion re-executes
          // the whole prior round 2^depth times (measured: 21 s at
          // sf0.1). Frontiers are registry-sized — persist each round.
          val alive0 = adj.select($"node").distinct()
          val r1 = peel(alive0).persist()
          val r2 = peel(r1).persist()
          val r3 = peel(r2)
          Seq((r1, 1), (r2, 2), (r3, 3)).map { case (r, i) =>
            r.agg(lit(i.toLong).as("round"),
              count(lit(1)).as("nodes_alive"),
              coalesce(min($"deg"), lit(0L)).as("min_deg"),
              coalesce(max($"deg"), lit(0L)).as("max_deg"))
          }.reduce(_ union _)
      }
    }, Some(s"""
      WITH ed AS (
        SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM (
          SELECT
            (${DedupQueries.hvDuckOf("'a' || CAST(doc_id AS VARCHAR)")}) % 64
              AS x,
            (${DedupQueries.hvDuckOf("'b' || CAST(doc_id AS VARCHAR)")}) % 64
              AS y
          FROM documents)
        WHERE x <> y),
      adj AS (SELECT a AS node, b AS nbr FROM ed
              UNION ALL SELECT b, a FROM ed),
      a0 AS (SELECT DISTINCT node FROM adj),
      d1 AS (SELECT adj.node, count(*) AS deg FROM adj
             JOIN a0 ON a0.node = adj.node
             JOIN a0 n ON n.node = adj.nbr GROUP BY 1),
      r1 AS (SELECT node, deg FROM d1 WHERE deg >= 12),
      d2 AS (SELECT adj.node, count(*) AS deg FROM adj
             JOIN r1 ON r1.node = adj.node
             JOIN r1 n ON n.node = adj.nbr GROUP BY 1),
      r2 AS (SELECT node, deg FROM d2 WHERE deg >= 12),
      d3 AS (SELECT adj.node, count(*) AS deg FROM adj
             JOIN r2 ON r2.node = adj.node
             JOIN r2 n ON n.node = adj.nbr GROUP BY 1),
      r3 AS (SELECT node, deg FROM d3 WHERE deg >= 12)
      SELECT CAST(1 AS BIGINT) AS round,
        CAST(count(*) AS BIGINT) AS nodes_alive,
        CAST(coalesce(min(deg), 0) AS BIGINT) AS min_deg,
        CAST(coalesce(max(deg), 0) AS BIGINT) AS max_deg FROM r1
      UNION ALL
      SELECT 2, count(*), coalesce(min(deg), 0), coalesce(max(deg), 0) FROM r2
      UNION ALL
      SELECT 3, count(*), coalesce(min(deg), 0), coalesce(max(deg), 0) FROM r3""")),

    // Activity concentration (Gini coefficient, integer ppm): per event
    // type, how unequally activity is spread across users — the
    // bot-traffic / whale-user concentration monitor. Exactness: the
    // Lorenz trapezoid runs over the DISTINCT (type, activity-count)
    // grid with multiplicities (q110/q181 value-domain argument — the
    // windows never see user-cardinality rows), population and mass
    // shares floor-quantized to ppm BEFORE the trapezoid products so
    // every term is bounded integer arithmetic (dp <= 1e6,
    // (lp+lc) <= 2e6, per-term product <= 2e12 — no n^2 rank sums that
    // would overflow at 1e9 users). Scale shape: ONE (type, user) agg
    // collapses the stream, one (type, activity) agg collapses users to
    // the value grid; cum windows ride the bounded grid partitioned by
    // type.
    Q("q197_activity_gini", (s, d) => {
      import s.implicits._
      val act = t(s, d, "events")
        .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("a"))
      val grid = act.groupBy($"event_type", $"a")
        .agg(count(lit(1)).as("m"))
      val tots = grid.groupBy($"event_type")
        .agg(sum($"m").as("n"), sum($"a" * $"m").as("s"))
      val wC = Window.partitionBy($"event_type").orderBy($"a".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(tots, "event_type")
        .withColumn("cmass", sum($"a" * $"m").over(wC))
        .select($"event_type", $"n", $"m", $"a", $"s", $"cmass",
          expr("(m * 1000000) div n").as("dp"),
          expr("((cmass - a * m) * 1000000) div s").as("lp"),
          expr("(cmass * 1000000) div s").as("lc"))
        .groupBy($"event_type")
        .agg(max($"n").as("n_users"), max($"s").as("n_events"),
          (lit(1000000L) - sum(expr("(dp * (lp + lc)) div 1000000")))
            .as("gini_ppm"))
    }, Some("""
      WITH act AS (
        SELECT event_type, user_id, count(*) AS a
        FROM events GROUP BY 1, 2),
      grid AS (
        SELECT event_type, a, count(*) AS m FROM act GROUP BY 1, 2),
      tots AS (
        SELECT event_type, sum(m) AS n, sum(a * m) AS s
        FROM grid GROUP BY 1),
      c AS (
        SELECT grid.event_type, tots.n, tots.s, grid.m, grid.a,
          sum(grid.a * grid.m) OVER (PARTITION BY grid.event_type
            ORDER BY grid.a ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cmass
        FROM grid JOIN tots USING (event_type)),
      terms AS (
        SELECT event_type, n, s,
          ((m * 1000000) // n
            * (((cmass - a * m) * 1000000) // s
               + (cmass * 1000000) // s)) // 1000000 AS t2
        FROM c)
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_users,
        CAST(max(s) AS BIGINT) AS n_events,
        CAST(1000000 - sum(t2) AS BIGINT) AS gini_ppm
      FROM terms GROUP BY 1""")),

    // Cross-week persistence mining (which parts stay in the weekly
    // top-100 by shipped quantity — trend persistence vs one-week
    // spikes, the "evergreen vs fad" split a demand planner needs):
    // per epoch-week top-100 parts, then the top-20 parts by number of
    // weeks spent in that top-100. Scale shape: ONE (week, part)
    // map-side-combined agg collapses the join; the per-week top-100
    // rides the (week, hash-bucket) prefilter + a final window over
    // <= 6400 survivors/week (q133 pattern, integer-quantized
    // quantities make the order total with the part tiebreak); the
    // persistence agg sees <= 100 x weeks rows (retention-time bounded,
    // q119 argument) and the final top-20 is the bucketed-prefilter
    // globalTopK — no unbounded window anywhere.
    Q("q199_persistent_parts", (s, d) => {
      import s.implicits._
      import graft.operators.{CorpusOps => C}
      val wk = t(s, d, "lineitem")
        .join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
        .select(
          expr("unix_micros(cast(o_orderdate as timestamp)) div 604800000000")
            .as("week"),
          $"l_partkey",
          floor($"l_quantity" * 100).cast("long").as("qc"))
        .groupBy($"week", $"l_partkey").agg(sum($"qc").as("qty_c"))
      val ord = Seq($"qty_c".desc, $"l_partkey".asc)
      val wB = Window.partitionBy($"week", pmod(hash($"l_partkey"), lit(64)))
        .orderBy(ord: _*)
      val wF = Window.partitionBy($"week").orderBy(ord: _*)
      val weekly = wk
        .withColumn("rb", row_number().over(wB)).filter($"rb" <= 100)
        .withColumn("rk", row_number().over(wF)).filter($"rk" <= 100)
      val pers = weekly.groupBy($"l_partkey")
        .agg(count(lit(1)).as("weeks_in_top"), sum($"qty_c").as("qty_c_top"))
      C.globalTopK(pers, $"l_partkey", 20,
        Seq($"weeks_in_top".desc, $"l_partkey".asc))
    }, Some("""
      WITH wk AS (
        SELECT epoch_us(o_orderdate) // 604800000000 AS week, l_partkey,
          sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS qty_c
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        GROUP BY 1, 2),
      top AS (
        SELECT week, l_partkey, qty_c FROM (
          SELECT *, row_number() OVER (PARTITION BY week
            ORDER BY qty_c DESC, l_partkey ASC) AS rk FROM wk)
        WHERE rk <= 100),
      pers AS (
        SELECT l_partkey, count(*) AS weeks_in_top, sum(qty_c) AS qty_c_top
        FROM top GROUP BY 1)
      SELECT l_partkey, CAST(weeks_in_top AS BIGINT) AS weeks_in_top,
        CAST(qty_c_top AS BIGINT) AS qty_c_top
      FROM (SELECT *, row_number() OVER (ORDER BY weeks_in_top DESC,
              l_partkey ASC) AS rk FROM pers)
      WHERE rk <= 20""")),

    // Per-type burstiness (Fano factor of per-(user, day) event counts,
    // integer milli): var/mean = 1 for Poisson arrivals — above says
    // bursty (retries, bots, incident storms), below says regularized
    // traffic. The temporal-quality sibling of q197's population
    // concentration. Exactness: two-pass centered sum of squares
    // (one-pass overflows, q198 argument) with the integer cell mean;
    // Fano_milli = (1000 * sum((x-mu)^2)) div sum(x) — exact while
    // 1000 * sum((x-mu)^2) < 2^63 (~9e14 observed cells at day-scale
    // counts). Scale shape: ONE (type, user, day) map-side-combined
    // agg collapses the stream; the mean frame is type-registry-sized
    // and equi-joined unhinted; zero windows.
    Q("q200_fano_burstiness", (s, d) => {
      import s.implicits._
      val cells = t(s, d, "events")
        .select($"event_type", $"user_id",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("day"))
        .groupBy($"event_type", $"user_id", $"day")
        .agg(count(lit(1)).as("x"))
      val mu = cells.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"))
        .select($"event_type", $"n", $"sx", expr("sx div n").as("mu"))
      cells.join(mu, "event_type")
        .groupBy($"event_type")
        .agg(max($"n").as("n_cells"),
          expr("(1000 * max(sx)) div max(n)").as("mean_milli"),
          expr("(1000 * sum((x - mu) * (x - mu))) div max(sx)")
            .as("fano_milli"))
    }, Some("""
      WITH cells AS (
        SELECT event_type, user_id, epoch_us(ts) // 86400000000 AS day,
          count(*) AS x
        FROM events GROUP BY 1, 2, 3),
      mu AS (
        SELECT event_type, count(*) AS n, sum(x) AS sx,
          sum(x) // count(*) AS mu
        FROM cells GROUP BY 1)
      SELECT cells.event_type, CAST(max(mu.n) AS BIGINT) AS n_cells,
        CAST((1000 * max(mu.sx)) // max(mu.n) AS BIGINT) AS mean_milli,
        CAST((1000 * sum((cells.x - mu.mu) * (cells.x - mu.mu)))
          // max(mu.sx) AS BIGINT) AS fano_milli
      FROM cells JOIN mu USING (event_type)
      GROUP BY 1""")),

    // Item co-occurrence similarity (co-purchase cosine over order
    // baskets, min support 3 — the classic collaborative-filtering /
    // "frequently bought together" prep; q173 works at the part-CLASS
    // level, this resolves individual items). Scale shape: pairs come
    // from per-basket sorted-array explodes (fan-out bounded by
    // basket size squared — the q134/q173 argument — NEVER an
    // item x item self-join); pair and item supports are map-side-
    // combined aggs; support joins are item-keyed (catalog-growing,
    // not broadcast); cosine = 1000*c_ab/sqrt(c_a*c_b) on integer-fed
    // doubles (correctly-rounded IEEE both engines) floored; the
    // top-30 is the bucketed-prefilter globalTopK.
    Q("q208_item_cooccurrence", (s, d) => {
      import s.implicits._
      import graft.operators.{CorpusOps => C}
      // round-16 opt: ONE order-keyed exchange builds the distinct
      // basket arrays directly (collect_set dedups DURING the partial
      // agg — the q173 convention; the first cut used
      // array_distinct(collect_list), which shipped undeduplicated
      // partial lists and measured 5.3 -> 8.1 s at sf1 — and replaces
      // the separate corpus-wide .distinct() exchange; the old
      // unpersisted `li` additionally re-ran scan + distinct for the
      // support agg — 3 lineitem-sized exchanges + 2 scans down to
      // 1 + 1). Baskets are order-count rows with order-bounded arrays
      // (q154's ord0 persist precedent — never an exploded corpus);
      // support counts come from exploding the persisted baskets.
      val baskets = t(s, d, "lineitem")
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
        .groupBy($"ok")
        .agg(sort_array(collect_set($"pk")).as("ps"))
        .persist()
      val pairs = PairOps.pairCounts(baskets, "ps", "pa", "pb", "cab")
        .filter($"cab" >= 3)
      val sup = baskets.select(explode($"ps").as("pk"))
        .groupBy($"pk").agg(count(lit(1)).as("c"))
      val scored = pairs
        .join(sup.select($"pk".as("pa"), $"c".as("ca")), "pa")
        .join(sup.select($"pk".as("pb"), $"c".as("cb")), "pb")
        .select($"pa", $"pb", $"cab", $"ca", $"cb",
          expr("""cast(floor(1000 * cab /
            sqrt(cast(ca as double) * cast(cb as double))) as long)""")
            .as("cos_milli"))
      C.globalTopK(scored, concat($"pa", lit(":"), $"pb"), 30,
        Seq($"cos_milli".desc, $"pa".asc, $"pb".asc))
    }, Some("""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      pr AS (
        SELECT a.pk AS pa, b.pk AS pb, count(*) AS cab
        FROM li a JOIN li b ON b.ok = a.ok AND b.pk > a.pk
        GROUP BY 1, 2 HAVING count(*) >= 3),
      sup AS (SELECT pk, count(*) AS c FROM li GROUP BY 1),
      sc AS (
        SELECT pa, pb, cab, sa.c AS ca, sb.c AS cb,
          CAST(floor(1000 * cab /
            sqrt(CAST(sa.c AS DOUBLE) * CAST(sb.c AS DOUBLE))) AS BIGINT)
            AS cos_milli
        FROM pr JOIN sup sa ON sa.pk = pr.pa JOIN sup sb ON sb.pk = pr.pb)
      SELECT pa, pb, CAST(cab AS BIGINT) AS cab, CAST(ca AS BIGINT) AS ca,
        CAST(cb AS BIGINT) AS cb, cos_milli
      FROM (SELECT *, row_number() OVER (ORDER BY cos_milli DESC, pa ASC,
              pb ASC) AS rk FROM sc)
      WHERE rk <= 30""")),

    // UCB1 arm readout (the explore/exploit dashboard over event-type
    // "arms": which variant would a bandit pull next, and how wide is
    // each arm's confidence bonus?). Per arm: pulls, mean reward
    // (value milli, integer), the UCB1 exploration bonus
    // floor(1000·sqrt(2 ln N / n)) and the resulting upper bound —
    // q174 tests ONE A/B pair post-hoc; this is the online-selection
    // view over all arms. Exactness: rewards floor-quantized to milli
    // row-locally; mean is integer div; the bonus is one floor over
    // integer-fed doubles (ln/sqrt on identical IEEE inputs — the
    // q202/q207 convention). Scale shape: ONE map-side-combined arm
    // agg collapses the corpus to the registry; the 1-row total
    // broadcasts; everything downstream registry-sized.
    Q("q228_ucb_readout", (s, d) => {
      import s.implicits._
      val arms = t(s, d, "events")
        .select($"event_type",
          floor($"value".cast("double") * 1000).cast("long").as("vm"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_pulls"), sum($"vm").as("sv"))
      val tot = arms.agg(sum($"n_pulls").as("n_total"))
      arms.crossJoin(broadcast(tot))
        .select($"event_type", $"n_pulls",
          expr("sv div n_pulls").as("mean_milli"),
          expr("""cast(floor(1000 * sqrt(2.0 * ln(cast(n_total as double))
            / cast(n_pulls as double))) as long)""").as("bonus_milli"))
        .withColumn("ucb_milli", $"mean_milli" + $"bonus_milli")
    }, Some("""
      WITH a AS (
        SELECT event_type, count(*) AS n_pulls,
          sum(CAST(floor(CAST(value AS DOUBLE) * 1000) AS BIGINT)) AS sv
        FROM events GROUP BY 1),
      t AS (SELECT sum(n_pulls) AS n_total FROM a)
      SELECT event_type, CAST(n_pulls AS BIGINT) AS n_pulls,
        CAST(sv // n_pulls AS BIGINT) AS mean_milli,
        CAST(floor(1000 * sqrt(2.0 * ln(CAST(t.n_total AS DOUBLE))
          / CAST(n_pulls AS DOUBLE))) AS BIGINT) AS bonus_milli,
        CAST(sv // n_pulls + floor(1000 * sqrt(2.0
          * ln(CAST(t.n_total AS DOUBLE)) / CAST(n_pulls AS DOUBLE)))
          AS BIGINT) AS ucb_milli
      FROM a CROSS JOIN t""")),

    // Conversion-latency percentiles (time-to-next-stage distribution
    // for the q89 funnel: view→click and click→purchase): p50/p90/p99
    // and max of the step delay in MINUTES — q89 counts who converts,
    // q185 measures pipeline lateness; this is the user-journey
    // latency a funnel owner actually tunes against. Exact percentiles
    // WITHOUT a corpus sort: delays bucket to the minute grid
    // (value-domain bounded — the session horizon, q110/q185
    // argument), cumulate per step, and each percentile resolves as
    // the smallest bucket with cum·100 >= p·n. Scale shape: one
    // user-keyed stage agg (map-side combined), one (step, minute)
    // agg, per-step grid windows, a 3-row literal percentile frame
    // inequality-joined to the bounded grid.
    Q("q229_conversion_latency", (s, d) => {
      import s.implicits._
      val st = t(s, d, "events").groupBy($"user_id").agg(
        min(when($"event_type" === "view",
          unix_micros($"ts".cast("timestamp")))).as("tv"),
        min(when($"event_type" === "click",
          unix_micros($"ts".cast("timestamp")))).as("tc"),
        min(when($"event_type" === "purchase",
          unix_micros($"ts".cast("timestamp")))).as("tp"))
      val deltas = st
        .select(lit("view_click").as("step"),
          when($"tv".isNotNull && $"tc" > $"tv",
            expr("(tc - tv) div 60000000")).as("m"))
        .unionAll(st.select(lit("click_purchase").as("step"),
          when($"tc".isNotNull && $"tp" > $"tc",
            expr("(tp - tc) div 60000000")).as("m")))
        .filter($"m".isNotNull)
      val grid = deltas.groupBy($"step", $"m").agg(count(lit(1)).as("c"))
      val wS = Window.partitionBy($"step").orderBy($"m".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid.withColumn("cum", sum($"c").over(wS))
      val totals = grid.groupBy($"step").agg(sum($"c").as("n"),
        max($"m").as("max_min"))
      val pcts = s.createDataFrame(Seq(50L, 90L, 99L).map(Tuple1(_)))
        .toDF("pct")
      cum.join(totals, "step").crossJoin(broadcast(pcts))
        .filter($"cum" * 100 >= $"pct" * $"n")
        .groupBy($"step", $"pct", $"n", $"max_min")
        .agg(min($"m").as("pm"))
        .groupBy($"step")
        .agg(max($"n").as("n_pairs"),
          min(when($"pct" === 50, $"pm")).as("p50_min"),
          min(when($"pct" === 90, $"pm")).as("p90_min"),
          min(when($"pct" === 99, $"pm")).as("p99_min"),
          max($"max_min").as("max_min"))
    }, Some("""
      WITH s AS (
        SELECT user_id,
          min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS tv,
          min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS tc,
          min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
        FROM events GROUP BY 1),
      d AS (
        SELECT 'view_click' AS step, (tc - tv) // 60000000 AS m
        FROM s WHERE tv IS NOT NULL AND tc > tv
        UNION ALL
        SELECT 'click_purchase', (tp - tc) // 60000000
        FROM s WHERE tc IS NOT NULL AND tp > tc),
      g AS (SELECT step, m, count(*) AS c FROM d GROUP BY 1, 2),
      cum AS (SELECT step, m, c,
                sum(c) OVER (PARTITION BY step ORDER BY m ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM g),
      t AS (SELECT step, sum(c) AS n, max(m) AS max_min FROM g GROUP BY 1),
      p(pct) AS (VALUES (50), (90), (99)),
      r AS (
        SELECT cum.step, p.pct, t.n, t.max_min, min(cum.m) AS pm
        FROM cum JOIN t USING (step) CROSS JOIN p
        WHERE cum.cum * 100 >= p.pct * t.n
        GROUP BY 1, 2, 3, 4)
      SELECT step, CAST(max(n) AS BIGINT) AS n_pairs,
        CAST(min(CASE WHEN pct = 50 THEN pm END) AS BIGINT) AS p50_min,
        CAST(min(CASE WHEN pct = 90 THEN pm END) AS BIGINT) AS p90_min,
        CAST(min(CASE WHEN pct = 99 THEN pm END) AS BIGINT) AS p99_min,
        CAST(max(max_min) AS BIGINT) AS max_min
      FROM r GROUP BY 1""")),

    // Degree assortativity (Newman's r over the q193-family hashed
    // host graph): do high-degree nodes link to high-degree nodes
    // (r > 0, social-web shape) or to leaves (r < 0, hub-and-spoke)?
    // The structural prior behind sampling/crawl strategies that
    // q139/q155/q168/q193 each assume implicitly. Endpoints are
    // salted positional-md5 hashes (q193's lesson: modular/affine
    // mappings collapse to degree-regular graphs, where r is
    // identically 0 — measured here too before the switch). ALL-
    // INTEGER: with S1 = Σ d_u d_v, S2 = Σ (d_u + d_v),
    // S3 = Σ (d_u² + d_v²) over undirected edges,
    // r = (4·M·S1 − S2²) / (2·M·S3 − S2²) exactly — no float
    // moments; one milli floor-division at the end (both engines
    // truncate identically); the degree-regular den = 0 case pinned
    // to 0. Scale shape: the corpus collapses to <= C(64,2) distinct
    // edges in ONE map-side-combined distinct; degrees + both
    // endpoint joins are registry-sized.
    Q("q230_degree_assortativity", (s, d) => {
      import s.implicits._
      val hx = DedupOps.hv32FromHexSql("md5(concat('c', cast(doc_id as string)))")
      val hy = DedupOps.hv32FromHexSql("md5(concat('d', cast(doc_id as string)))")
      val und = t(s, d, "documents")
        .select(expr(s"$hx % 64").as("u"), expr(s"$hy % 64").as("v"))
        .filter($"u" =!= $"v")
        .select(least($"u", $"v").as("a"), greatest($"u", $"v").as("b"))
        .distinct().persist()
      val deg = und.select($"a".as("n")).unionAll(und.select($"b".as("n")))
        .groupBy($"n").agg(count(lit(1)).as("deg"))
      und
        .join(deg.select($"n".as("a"), $"deg".as("da")), "a")
        .join(deg.select($"n".as("b"), $"deg".as("db")), "b")
        .agg(count(lit(1)).as("m"),
          sum($"da" * $"db").as("s1"),
          sum($"da" + $"db").as("s2"),
          sum($"da" * $"da" + $"db" * $"db").as("s3"))
        .select($"m".as("n_edges"), $"s1", $"s2", $"s3",
          expr("""CASE WHEN 2 * m * s3 - s2 * s2 = 0 THEN CAST(0 AS BIGINT)
            ELSE ((4 * m * s1 - s2 * s2) * 1000)
              div (2 * m * s3 - s2 * s2) END""").as("assort_milli"))
    }, Some(s"""
      WITH raw AS (
        SELECT
          (${DedupQueries.hvDuckOf("'c' || CAST(doc_id AS VARCHAR)")}) % 64
            AS u,
          (${DedupQueries.hvDuckOf("'d' || CAST(doc_id AS VARCHAR)")}) % 64
            AS v
        FROM documents),
      und AS (
        SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        FROM raw WHERE u != v),
      deg AS (
        SELECT n, count(*) AS deg FROM (
          SELECT a AS n FROM und UNION ALL SELECT b FROM und)
        GROUP BY 1),
      j AS (
        SELECT count(*) AS m, sum(da.deg * db.deg) AS s1,
          sum(da.deg + db.deg) AS s2,
          sum(da.deg * da.deg + db.deg * db.deg) AS s3
        FROM und JOIN deg da ON da.n = und.a JOIN deg db ON db.n = und.b)
      SELECT CAST(m AS BIGINT) AS n_edges, CAST(s1 AS BIGINT) AS s1,
        CAST(s2 AS BIGINT) AS s2, CAST(s3 AS BIGINT) AS s3,
        CAST(CASE WHEN 2 * m * s3 - s2 * s2 = 0 THEN 0
          ELSE ((4 * m * s1 - s2 * s2) * 1000)
            // (2 * m * s3 - s2 * s2) END AS BIGINT) AS assort_milli
      FROM j""")),

    // Sample-ratio-mismatch check (the validity gate that must pass
    // BEFORE q174's z-test or q228's bandit readout mean anything: is
    // the 50/50 hash assignment actually delivering 50/50? A skewed
    // split means broken randomization — every downstream readout is
    // biased). One-df chi-square against the even split, ALL INTEGER:
    // chi2 = (n_a − n_b)² / (n_a + n_b) in milli; flag at the 95%
    // critical value 3.841. Scale shape: one map-side-combined
    // 2-group agg collapses the corpus; everything after is 1-row
    // arithmetic.
    Q("q234_srm_check", (s, d) => {
      import s.implicits._
      t(s, d, "events")
        .select($"user_id").distinct()
        .select(CorpusOps.hashMix($"user_id", 2L).as("variant"))
        .agg(sum(when($"variant" === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when($"variant" === 1, 1L).otherwise(0L)).as("n_b"))
        .select($"n_a", $"n_b", ($"n_a" - $"n_b").as("delta"),
          expr("""((n_a - n_b) * (n_a - n_b) * 1000) div (n_a + n_b)""")
            .as("chi2_milli"))
        .withColumn("srm_flag",
          when($"chi2_milli" > 3841, 1L).otherwise(0L))
    }, Some("""
      WITH u AS (SELECT DISTINCT user_id FROM events),
      v AS (SELECT ((user_id % 1000003) * 2654435761 + 40503) % 2
              AS variant FROM u),
      g AS (SELECT
              sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
              sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b
            FROM v)
      SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        CAST(n_a - n_b AS BIGINT) AS delta,
        CAST(((n_a - n_b) * (n_a - n_b) * 1000) // (n_a + n_b) AS BIGINT)
          AS chi2_milli,
        CAST(CASE WHEN ((n_a - n_b) * (n_a - n_b) * 1000) // (n_a + n_b)
          > 3841 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
      FROM g""")),

    // Minimum-detectable-effect readout (the power analysis that says
    // whether q174's A/B even CAN see the effect size being chased:
    // at the current per-arm n and pooled conversion rate, the
    // smallest absolute lift detectable at alpha 5% / power 80%).
    // MDE = (z_{a/2} + z_b)·sqrt(2 p (1-p) / n), with the z-sum baked
    // as the exact micro literal 2_801585 (1.959964 + 0.841621) so no
    // inverse-normal runs anywhere; sqrt over integer-fed doubles is
    // correctly-rounded IEEE in both engines. Conv definition and
    // hash assignment replay q174 exactly. Scale shape: one user agg
    // + one 2-group agg; 1-row arithmetic after.
    Q("q237_mde_power", (s, d) => {
      import s.implicits._
      val wU = Window.partitionBy($"user_id")
      val per = t(s, d, "events")
        .select($"user_id", $"event_type",
          unix_micros($"ts".cast("timestamp")).as("ep"))
        .withColumn("ep0", min($"ep").over(wU))
        .groupBy($"user_id")
        .agg(max(when($"event_type" === "purchase" &&
          $"ep" <= $"ep0" + 86400000000L, 1L).otherwise(0L)).as("conv"))
        .select(CorpusOps.hashMix($"user_id", 2L).as("variant"), $"conv")
      per.groupBy($"variant")
        .agg(count(lit(1)).as("n"), sum($"conv").as("k"))
        .agg(sum($"n").as("n_users"), sum($"k").as("k_conv"),
          min($"n").as("n_min_arm"))
        .select($"n_users", $"k_conv", $"n_min_arm",
          expr("(k_conv * 1000000) div n_users").as("p_pool_ppm"),
          expr("""cast(floor(2801585 * sqrt(
            2.0 * (cast(k_conv as double) / cast(n_users as double))
              * (1.0 - cast(k_conv as double) / cast(n_users as double))
              / cast(n_min_arm as double))) as long)""").as("mde_ppm"))
        .withColumn("mde_rel_pml",
          expr("""CASE WHEN p_pool_ppm = 0 THEN CAST(0 AS BIGINT)
            ELSE (mde_ppm * 1000) div p_pool_ppm END"""))
    }, Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ep,
                   min(epoch_us(ts)) OVER (PARTITION BY user_id) AS ep0
                 FROM events),
      per AS (SELECT user_id,
                ((user_id % 1000003) * 2654435761 + 40503) % 2 AS variant,
                max(CASE WHEN event_type = 'purchase'
                    AND ep <= ep0 + 86400000000 THEN 1 ELSE 0 END) AS conv
              FROM e GROUP BY 1),
      v AS (SELECT variant, count(*) AS n, sum(conv) AS k
            FROM per GROUP BY 1),
      g AS (SELECT sum(n) AS n_users, sum(k) AS k_conv,
              min(n) AS n_min_arm FROM v)
      SELECT CAST(n_users AS BIGINT) AS n_users,
        CAST(k_conv AS BIGINT) AS k_conv,
        CAST(n_min_arm AS BIGINT) AS n_min_arm,
        CAST((k_conv * 1000000) // n_users AS BIGINT) AS p_pool_ppm,
        CAST(floor(2801585 * sqrt(
          2.0 * (CAST(k_conv AS DOUBLE) / CAST(n_users AS DOUBLE))
            * (1.0 - CAST(k_conv AS DOUBLE) / CAST(n_users AS DOUBLE))
            / CAST(n_min_arm AS DOUBLE))) AS BIGINT) AS mde_ppm,
        CAST(CASE WHEN (k_conv * 1000000) // n_users = 0 THEN 0
          ELSE (floor(2801585 * sqrt(
            2.0 * (CAST(k_conv AS DOUBLE) / CAST(n_users AS DOUBLE))
              * (1.0 - CAST(k_conv AS DOUBLE) / CAST(n_users AS DOUBLE))
              / CAST(n_min_arm AS DOUBLE))) * 1000)
            // ((k_conv * 1000000) // n_users) END AS BIGINT)
          AS mde_rel_pml
      FROM g""")),

    // Session entropy rate (the predictability number over q169's
    // transition matrix: H(next | prev) per state in milli-nats plus
    // each state's share of transitions — low entropy means scripted/
    // bot-like sequences, high means organic browsing; the
    // information-theoretic audit behind session-based features).
    // Exactness: per-(prev,next) terms are cnt·floor(1e9·ln(tot/cnt))
    // — ln on integer-fed doubles floor-quantized BEFORE the integer
    // sum (q207 convention), so per-state sums are order- and
    // engine-independent; the div by tot is last. Scale shape: q169's
    // per-user lag window (user-keyed, bounded by per-user activity),
    // one (prev,next) registry agg, registry-sized rollup; 1-row
    // grand total broadcast.
    Q("q239_session_entropy", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ep".asc, $"event_id".asc)
      val trans = t(s, d, "events")
        .select($"user_id", $"event_id", $"event_type",
          unix_micros($"ts".cast("timestamp")).as("ep"))
        .withColumn("to_type", lead($"event_type", 1).over(w))
        .filter($"to_type".isNotNull)
        .groupBy($"event_type".as("from_type"), $"to_type")
        .agg(count(lit(1)).as("n"))
      val totals = trans.groupBy($"from_type")
        .agg(sum($"n").as("tot"))
      val grand = totals.agg(sum($"tot").as("g"))
      trans.join(totals, "from_type")
        .select($"from_type", $"tot",
          ($"n" * expr("""cast(floor(1000000000 *
            ln(cast(tot as double) / cast(n as double))) as long)"""))
            .as("term_nano"))
        .groupBy($"from_type", $"tot")
        .agg(count(lit(1)).as("n_next_states"),
          expr("sum(term_nano) div (tot * 1000000)").as("h_milli"))
        .crossJoin(broadcast(grand))
        .select($"from_type", $"tot".as("n_trans"), $"n_next_states",
          $"h_milli", expr("(tot * 1000000) div g").as("share_ppm"))
    }, Some("""
      WITH tr AS (
        SELECT event_type AS from_type,
          lead(event_type) OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts) ASC, event_id ASC) AS to_type
        FROM events),
      cnt AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
              FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
              FROM cnt GROUP BY 1),
      g AS (SELECT sum(tot) AS g FROM tot),
      terms AS (
        SELECT cnt.from_type, tot.tot,
          cnt.n * CAST(floor(1000000000 *
            ln(CAST(tot.tot AS DOUBLE) / CAST(cnt.n AS DOUBLE)))
            AS BIGINT) AS term_nano
        FROM cnt JOIN tot ON tot.from_type = cnt.from_type)
      SELECT from_type, CAST(tot AS BIGINT) AS n_trans,
        CAST(count(*) AS BIGINT) AS n_next_states,
        CAST(sum(term_nano) // (tot * 1000000) AS BIGINT) AS h_milli,
        CAST((tot * 1000000) // g.g AS BIGINT) AS share_ppm
      FROM terms CROSS JOIN g GROUP BY from_type, tot, g.g""")),

    // Join-order advisor (the optimizer-adjacent what-if a pipeline
    // owner runs before pinning a 3-table join: which left-deep order
    // minimizes intermediate row mass?). Candidate orders over
    // customer ⋈ orders(filtered) ⋈ lineitem with FK-uniform
    // cardinality estimates from ACTUAL counts (the q159 sketch
    // stands in for these at lake scale): |C⋈O_f| = |O_f| (FK to
    // unique parent), |O_f⋈L| = |L|·sel(O) (uniform FK share). Cost =
    // sum of intermediate sizes; ALL integer. Output: one row per
    // order with its estimate and the chosen flag. Scale shape:
    // three scalar count aggs (map-side combined) + 1-row arithmetic
    // — the advised JOIN never runs.
    Q("q240_join_order_advisor", (s, d) => {
      import s.implicits._
      val c = t(s, d, "customer").agg(count(lit(1)).as("nc"))
      val o = t(s, d, "orders").agg(count(lit(1)).as("no"),
        sum(when($"o_orderdate" >= "1995-01-01", 1L).otherwise(0L))
          .as("nof"))
      val l = t(s, d, "lineitem").agg(count(lit(1)).as("nl"))
      val stats = c.crossJoin(o).crossJoin(l)
      // (C⋈O_f)⋈L: inter1 = nof, inter2 = (nl * nof) div no
      // (O_f⋈L)⋈C: inter1 = (nl * nof) div no, inter2 = same mass
      val co = stats.select(lit("customer_orders_lineitem").as("join_order"),
        $"nof".as("inter1_rows"),
        expr("(nl * nof) div no").as("inter2_rows"),
        ($"nof" + expr("(nl * nof) div no")).as("cost_rows"))
      val ol = stats.select(lit("orders_lineitem_customer").as("join_order"),
        expr("(nl * nof) div no").as("inter1_rows"),
        expr("(nl * nof) div no").as("inter2_rows"),
        (expr("(nl * nof) div no") * 2).as("cost_rows"))
      val both = co.unionAll(ol)
      val best = both.agg(min($"cost_rows").as("mc"))
      both.crossJoin(broadcast(best))
        .select($"join_order", $"inter1_rows", $"inter2_rows", $"cost_rows",
          when($"cost_rows" === $"mc", 1L).otherwise(0L).as("chosen"))
    }, Some("""
      WITH c AS (SELECT count(*) AS nc FROM customer),
      o AS (SELECT count(*) AS no,
              sum(CASE WHEN o_orderdate >= DATE '1995-01-01'
                  THEN 1 ELSE 0 END) AS nof
            FROM orders),
      l AS (SELECT count(*) AS nl FROM lineitem),
      s AS (SELECT * FROM c CROSS JOIN o CROSS JOIN l),
      b AS (
        SELECT 'customer_orders_lineitem' AS join_order,
          nof AS inter1_rows, (nl * nof) // no AS inter2_rows,
          nof + (nl * nof) // no AS cost_rows
        FROM s
        UNION ALL
        SELECT 'orders_lineitem_customer',
          (nl * nof) // no, (nl * nof) // no,
          ((nl * nof) // no) * 2
        FROM s),
      m AS (SELECT min(cost_rows) AS mc FROM b)
      SELECT join_order, CAST(inter1_rows AS BIGINT) AS inter1_rows,
        CAST(inter2_rows AS BIGINT) AS inter2_rows,
        CAST(cost_rows AS BIGINT) AS cost_rows,
        CAST(CASE WHEN cost_rows = m.mc THEN 1 ELSE 0 END AS BIGINT)
          AS chosen
      FROM b CROSS JOIN m""")),

    // User-churn hazard curve (Nelson–Aalen cumulative hazard with
    // right censoring — the survival analysis behind retention
    // forecasts; q90 counts activity per cohort cell, this estimates
    // WHEN users exit). Per lifetime offset (days between first and
    // last event): users at risk (reverse-cumulative exits), churned
    // (last event before the observation horizon) vs censored (still
    // active at the horizon), discrete hazard d/n, and the
    // Nelson–Aalen running sum — chosen over Kaplan–Meier because
    // cumulative hazard is ADDITIVE: integer terms (d·1e6) div n sum
    // exactly, where KM's survival product would need ln/exp
    // round-trips. Scale shape: one user agg (map-side combined), an
    // offset-grid agg (value-domain bounded by the observation
    // window, q110 argument), grid windows, 1-row horizon broadcast.
    Q("q241_hazard_curve", (s, d) => {
      import s.implicits._
      val days = t(s, d, "events")
        .select($"user_id",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("day"))
      val horizon = days.agg(max($"day").as("hl"))
      val users = days.groupBy($"user_id")
        .agg(min($"day").as("f"), max($"day").as("l"))
        .crossJoin(broadcast(horizon))
        .select(($"l" - $"f").as("e"),
          when($"l" < $"hl", 1L).otherwise(0L).as("churned"))
      val grid = users.groupBy($"e")
        .agg(count(lit(1)).as("n_exits"),
          sum($"churned").as("d"),
          sum(lit(1L) - $"churned").as("c"))
      val wR = Window.orderBy($"e".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wC = Window.orderBy($"e".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid
        .withColumn("n_at_risk", sum($"n_exits").over(wR))
        .withColumn("hz_ppm", expr("(d * 1000000) div n_at_risk"))
        .withColumn("cum_hazard_ppm", sum($"hz_ppm").over(wC))
        .select($"e".as("offset_days"), $"n_at_risk", $"d".as("n_churned"),
          $"c".as("n_censored"), $"hz_ppm".as("hazard_ppm"),
          $"cum_hazard_ppm")
    }, Some("""
      WITH dd AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      h AS (SELECT max(day) AS hl FROM dd),
      u AS (
        SELECT l - f AS e, CASE WHEN l < h.hl THEN 1 ELSE 0 END AS churned
        FROM (SELECT user_id, min(day) AS f, max(day) AS l
              FROM dd GROUP BY 1) CROSS JOIN h),
      g AS (SELECT e, count(*) AS n_exits, sum(churned) AS d,
              sum(1 - churned) AS c
            FROM u GROUP BY 1),
      r AS (SELECT g.*,
              sum(n_exits) OVER (ORDER BY e DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS n_at_risk
            FROM g),
      z AS (SELECT r.*, (d * 1000000) // n_at_risk AS hz_ppm FROM r)
      SELECT CAST(e AS BIGINT) AS offset_days,
        CAST(n_at_risk AS BIGINT) AS n_at_risk,
        CAST(d AS BIGINT) AS n_churned, CAST(c AS BIGINT) AS n_censored,
        CAST(hz_ppm AS BIGINT) AS hazard_ppm,
        CAST(sum(hz_ppm) OVER (ORDER BY e ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_hazard_ppm
      FROM z""")),

    // Per-source 1-D Wasserstein (earth-mover) drift vs the corpus —
    // the L1 companion to q143's KS sup-norm: KS flags the single
    // worst CDF gap, W1 integrates |CDF_s - CDF_g| over the value
    // axis, so a source whose lengths are shifted a LITTLE everywhere
    // (which KS underweights) scores proportionally to the shift
    // magnitude in tokens — the number a rebalancing pass actually
    // wants ("src7 reads 3.2 tokens longer on average, uniformly").
    // Scale shape identical to q143 (the audited one): value-domain
    // token-length grid (bounded by max doc length, q110 argument),
    // per-source cum windows ride that grid, source/total frames are
    // registry-sized broadcasts. Exactness: CDFs ppm floor-quantized,
    // each grid term |d|·gap is integer, the sum is exact.
    Q("q243_wasserstein_drift", (s, d) => {
      import s.implicits._
      val lens = t(s, d, "documents").select($"source",
        TextOps.tokenCount($"text").cast("long").as("v"))
      val wG = Window.orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wL = Window.orderBy($"v".asc)
      val grid = lens.groupBy($"v").agg(count(lit(1)).as("k"))
        .withColumn("cum_g", sum($"k").over(wG))
        .withColumn("gap", coalesce(lead($"v", 1).over(wL) - $"v", lit(0L)))
        .drop("k")
      val srcTot = lens.groupBy($"source").agg(count(lit(1)).as("n_s"))
      val tot = lens.agg(count(lit(1)).as("n_g"))
      val sc = lens.groupBy($"source", $"v").agg(count(lit(1)).as("ks"))
      val wS = Window.partitionBy($"source").orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.crossJoin(broadcast(srcTot)).crossJoin(broadcast(tot))
        .join(sc, Seq("source", "v"), "left_outer")
        .withColumn("cum_s", sum(coalesce($"ks", lit(0L))).over(wS))
        .withColumn("term",
          abs(expr("(cum_s * 1000000) div n_s - (cum_g * 1000000) div n_g"))
            * $"gap")
        .groupBy($"source")
        .agg(max($"n_s").as("n_docs"), sum($"term").as("w1_ppm_tokens"))
    }, Some("""
      WITH l AS (SELECT source,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS v
                 FROM documents),
      g AS (SELECT v, count(*) AS k FROM l GROUP BY 1),
      gg AS (SELECT v, sum(k) OVER (ORDER BY v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g,
             coalesce(lead(v, 1) OVER (ORDER BY v ASC) - v, 0) AS gap
             FROM g),
      st AS (SELECT source, count(*) AS n_s FROM l GROUP BY 1),
      tt AS (SELECT count(*) AS n_g FROM l),
      sc AS (SELECT source, v, count(*) AS ks FROM l GROUP BY 1, 2),
      cm AS (SELECT st.source, gg.v, gg.gap,
               sum(coalesce(sc.ks, 0)) OVER (PARTITION BY st.source
                 ORDER BY gg.v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
               gg.cum_g, st.n_s, tt.n_g
             FROM gg CROSS JOIN st CROSS JOIN tt
             LEFT JOIN sc ON sc.source = st.source AND sc.v = gg.v)
      SELECT source, CAST(max(n_s) AS BIGINT) AS n_docs,
        CAST(sum(abs((cum_s * 1000000) // n_s - (cum_g * 1000000) // n_g)
               * gap) AS BIGINT) AS w1_ppm_tokens
      FROM cm GROUP BY 1""")),

    // Theil–Sen robust trend per event type (median of pairwise daily
    // slopes) — the outlier-immune companion to q183's OLS slope: one
    // anomalous traffic day drags a least-squares slope arbitrarily
    // far, but the MEDIAN pairwise slope has a 29% breakdown point,
    // so the "is this event type growing?" readout survives incident
    // days. Scale shape: the corpus collapses to a (type, day) count
    // grid in ONE map-side-combined agg (value-domain bounded: days ×
    // types, q110 argument); the pairwise self-join runs on that grid
    // (≤ C(days,2) rows per type at ANY corpus size), and the median
    // rides a per-type rank window on the bounded pair frame.
    // Exactness: slope milli-quantized with div (both engines truncate
    // toward zero); median = lower median by (slope, x1, x2) rank —
    // fully deterministic, no float interpolation.
    Q("q244_theilsen_trend", (s, d) => {
      import s.implicits._
      val daily = t(s, d, "events")
        .select($"event_type",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("day"))
        .groupBy($"event_type", $"day").agg(count(lit(1)).as("y"))
      val a = daily.select($"event_type", $"day".as("x1"), $"y".as("y1"))
      val b = daily.select($"event_type", $"day".as("x2"), $"y".as("y2"))
      val pairs = a.join(b, Seq("event_type")).filter($"x1" < $"x2")
        .withColumn("slope_milli",
          expr("((y2 - y1) * 1000) div (x2 - x1)"))
      val wR = Window.partitionBy($"event_type")
        .orderBy($"slope_milli".asc, $"x1".asc, $"x2".asc)
      val np = pairs.groupBy($"event_type")
        .agg(count(lit(1)).as("n_pairs"),
          (countDistinct($"x1") + lit(1)).as("n_days"))
      pairs.withColumn("rn", row_number().over(wR))
        .join(broadcast(np), Seq("event_type"))
        .filter($"rn" === expr("(n_pairs + 1) div 2"))
        .select($"event_type", $"n_days", $"n_pairs",
          $"slope_milli".as("theilsen_slope_milli"))
    }, Some("""
      WITH dd AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               count(*) AS y
        FROM events GROUP BY 1, 2),
      p AS (
        SELECT a.event_type, a.day AS x1, b.day AS x2,
               ((b.y - a.y) * 1000) // (b.day - a.day) AS slope_milli
        FROM dd a JOIN dd b
          ON a.event_type = b.event_type AND a.day < b.day),
      np AS (SELECT event_type, count(*) AS n_pairs,
               count(DISTINCT x1) + 1 AS n_days
             FROM p GROUP BY 1),
      r AS (SELECT p.*, row_number() OVER (PARTITION BY event_type
               ORDER BY slope_milli ASC, x1 ASC, x2 ASC) AS rn
            FROM p)
      SELECT r.event_type, CAST(np.n_days AS BIGINT) AS n_days,
        CAST(np.n_pairs AS BIGINT) AS n_pairs,
        CAST(r.slope_milli AS BIGINT) AS theilsen_slope_milli
      FROM r JOIN np ON r.event_type = np.event_type
      WHERE r.rn = (np.n_pairs + 1) // 2""")),

    // Single-changepoint detection on the daily event series (binary
    // mean-shift segmentation, the first split of a CUSUM/PELT pass):
    // for every candidate split day, the two-segment SSE via the
    // Σy² − (Σy)²/n identity; the reported row is the argmin split
    // with its segment means and the variance-explained gain vs the
    // unsplit fit — "traffic level changed on day 19737" as a query
    // result. Complements q183/q244 (monotone trends) with the
    // regime-change alternative. Scale shape: the corpus collapses to
    // the (day, count) grid in ONE map-side-combined agg (value-domain
    // bounded, q110 argument); the candidate×day frame is grid² —
    // bounded at ANY corpus size — and the argmin is a 1-row rank on
    // the candidate frame. Exactness: all-integer (counts and their
    // squares; div floors identically in both engines). At lake scale
    // the daily counts y can reach 1e9 (y² sums approach int64
    // headroom): center y on its global mean first (two-pass, q203
    // convention) before squaring.
    Q("q246_changepoint", (s, d) => {
      import s.implicits._
      val daily = t(s, d, "events")
        .select(expr("unix_micros(cast(ts as timestamp)) div 86400000000")
          .as("day"))
        .groupBy($"day").agg(count(lit(1)).as("y"))
        .persist() // grid-sized; feeds candidates, pairs, and flat fit
      val mx = daily.agg(max($"day").as("mx"))
      val cand = daily.crossJoin(broadcast(mx)).filter($"day" < $"mx")
        .select($"day".as("c"))
      val m = cand.crossJoin(broadcast(daily))
        .groupBy($"c").agg(
          sum(when($"day" <= $"c", 1L).otherwise(0L)).as("nl"),
          sum(when($"day" <= $"c", $"y").otherwise(0L)).as("sl"),
          sum(when($"day" <= $"c", $"y" * $"y").otherwise(0L)).as("ssl"),
          sum(when($"day" > $"c", 1L).otherwise(0L)).as("nr"),
          sum(when($"day" > $"c", $"y").otherwise(0L)).as("sr"),
          sum(when($"day" > $"c", $"y" * $"y").otherwise(0L)).as("ssr"))
        .withColumn("sse",
          expr("(ssl - (sl * sl) div nl) + (ssr - (sr * sr) div nr)"))
      val flat = daily
        .agg(count(lit(1)).as("n"), sum($"y").as("sy"),
          sum($"y" * $"y").as("ssy"))
        .select(expr("ssy - (sy * sy) div n").as("sse_flat"))
      val wR = Window.orderBy($"sse".asc, $"c".asc)
      m.withColumn("rn", row_number().over(wR)).filter($"rn" === 1)
        .crossJoin(broadcast(flat))
        .select($"c".as("split_day"), $"nl".as("n_left"), $"nr".as("n_right"),
          expr("(sl * 1000) div nl").as("mean_left_milli"),
          expr("(sr * 1000) div nr").as("mean_right_milli"),
          $"sse".as("sse_split"), $"sse_flat",
          expr("((sse_flat - sse) * 1000000) div greatest(sse_flat, 1)")
            .as("gain_ppm"))
    }, Some("""
      WITH daily AS (
        SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS y
        FROM events GROUP BY 1),
      mx AS (SELECT max(day) AS mx FROM daily),
      cand AS (SELECT day AS c FROM daily CROSS JOIN mx WHERE day < mx),
      m AS (
        SELECT c,
          sum(CASE WHEN day <= c THEN 1 ELSE 0 END) AS nl,
          sum(CASE WHEN day <= c THEN y ELSE 0 END) AS sl,
          sum(CASE WHEN day <= c THEN y * y ELSE 0 END) AS ssl,
          sum(CASE WHEN day > c THEN 1 ELSE 0 END) AS nr,
          sum(CASE WHEN day > c THEN y ELSE 0 END) AS sr,
          sum(CASE WHEN day > c THEN y * y ELSE 0 END) AS ssr
        FROM cand CROSS JOIN daily GROUP BY 1),
      sc AS (SELECT m.*,
               (ssl - (sl * sl) // nl) + (ssr - (sr * sr) // nr) AS sse
             FROM m),
      flat AS (SELECT sum(y * y) - (sum(y) * sum(y)) // count(*)
                 AS sse_flat FROM daily),
      best AS (SELECT sc.*, row_number() OVER (ORDER BY sse ASC, c ASC)
                 AS rn FROM sc QUALIFY rn = 1)
      SELECT CAST(c AS BIGINT) AS split_day, CAST(nl AS BIGINT) AS n_left,
        CAST(nr AS BIGINT) AS n_right,
        CAST((sl * 1000) // nl AS BIGINT) AS mean_left_milli,
        CAST((sr * 1000) // nr AS BIGINT) AS mean_right_milli,
        CAST(sse AS BIGINT) AS sse_split,
        CAST(sse_flat AS BIGINT) AS sse_flat,
        CAST(((sse_flat - sse) * 1000000) // greatest(sse_flat, 1)
               AS BIGINT) AS gain_ppm
      FROM best CROSS JOIN flat""")),

    // Behavioral sequence anomaly: score each user's event stream
    // under the corpus-fitted first-order Markov model (q169's
    // transition matrix) by average transition negative-log-likelihood
    // — the fraud/bot readout ("this user's click→purchase→click
    // pattern is 40x less likely than normal") that turns the
    // transition MATRIX into a per-user ranking. In-sample scoring:
    // the model and the scored sequences come from the same corpus,
    // the standard surprise-scoring setup. Scale shape: transitions
    // via ONE user-partitioned lead window (bounded by a user's
    // history); the model is |event types|² rows — constant — and
    // broadcasts; the per-user agg is map-side combined; the top-20
    // rides the q79-class bucketed prefilter (globalTopK), never a
    // global sort of all users. Exactness: nll terms are
    // floor(ln(ft/n)·1e9) — integer-fed correctly-rounded IEEE ln,
    // floor-quantized per transition (q73/q129 convention).
    Q("q249_sequence_anomaly", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ep".asc, $"event_id".asc)
      val trans = t(s, d, "events")
        .select($"user_id", $"event_id", $"event_type",
          unix_micros($"ts".cast("timestamp")).as("ep"))
        .withColumn("to_type", lead($"event_type", 1).over(w))
        .filter($"to_type".isNotNull)
        .select($"user_id", $"event_type".as("from_type"), $"to_type")
        .persist() // feeds both the model fit and the scoring join
      val model = trans.groupBy($"from_type", $"to_type")
        .agg(count(lit(1)).as("n"))
      val totals = model.groupBy($"from_type").agg(sum($"n").as("ft"))
      val nll = model.join(totals, "from_type")
        .select($"from_type", $"to_type",
          floor(log($"ft".cast("double") / $"n".cast("double")) * 1e9)
            .cast("long").as("nll_nano"))
      val perUser = trans
        .join(broadcast(nll), Seq("from_type", "to_type"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_trans"), sum($"nll_nano").as("snll"))
        .select($"user_id", $"n_trans",
          expr("snll div n_trans").as("avg_nll_nano"))
      CorpusOps.globalTopK(perUser, $"user_id", k = 20,
        order = Seq($"avg_nll_nano".desc, $"user_id".asc))
    }, Some("""
      WITH tr AS (
        SELECT user_id, event_type AS from_type,
          lead(event_type) OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts) ASC, event_id ASC) AS to_type
        FROM events),
      tt AS (SELECT user_id, from_type, to_type FROM tr
             WHERE to_type IS NOT NULL),
      m AS (SELECT from_type, to_type, count(*) AS n
            FROM tt GROUP BY 1, 2),
      ft AS (SELECT from_type, sum(n) AS ft FROM m GROUP BY 1),
      nll AS (
        SELECT m.from_type, m.to_type,
          CAST(floor(ln(CAST(ft.ft AS DOUBLE) / CAST(m.n AS DOUBLE))
            * 1000000000) AS BIGINT) AS nll_nano
        FROM m JOIN ft USING (from_type)),
      pu AS (
        SELECT tt.user_id, count(*) AS n_trans,
          sum(nll.nll_nano) // count(*) AS avg_nll_nano
        FROM tt JOIN nll USING (from_type, to_type)
        GROUP BY 1)
      SELECT user_id, CAST(n_trans AS BIGINT) AS n_trans,
        CAST(avg_nll_nano AS BIGINT) AS avg_nll_nano
      FROM pu
      QUALIFY row_number() OVER (ORDER BY avg_nll_nano DESC,
        user_id ASC) <= 20""")),

    // Exponentially time-decayed activity mass per event type
    // (half-life 7 days, Q20 fixed-point): the feature-store /
    // trending-now aggregate that weighs yesterday's events ~2^(1/7)
    // more than the day before's — q190 reports week-over-week steps,
    // this collapses the whole history into one recency-weighted
    // number per type (count mass + value mass). The 31 per-day-offset
    // weights floor(2^20·2^(−o/7)) are PRECOMPUTED INTEGER LITERALS
    // interpolated into both engines (ndcgDiscMicro convention), so no
    // runtime pow() rounding can diverge; offsets beyond 30 days decay
    // to weight 0 (< 2^20/19 ≈ noise) and drop. Scale shape: ONE
    // map-side-combined (type, day-offset) agg against the 1-row
    // horizon broadcast, then the weight lookup rides the ≤ 31-row
    // offset grid per type. Mergeable across daily partitions by
    // construction (weights are per-day constants).
    Q("q254_time_decay", (s, d) => {
      import s.implicits._
      val wLit = decayQ20
        .map(w => s"CAST($w AS BIGINT)").mkString("array(", ", ", ")")
      val ev = t(s, d, "events")
        .select($"event_type",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("day"),
          floor($"value" * 1000).cast("long").as("vm"))
      val hz = ev.agg(max($"day").as("hd"))
      val grid = ev.crossJoin(broadcast(hz))
        .withColumn("o", $"hd" - $"day")
        .groupBy($"event_type", $"o")
        .agg(count(lit(1)).as("n"), sum($"vm").as("sv"))
        .withColumn("w", when($"o" <= 30,
          element_at(expr(wLit), ($"o" + 1).cast("int"))).otherwise(0L))
      grid.groupBy($"event_type")
        .agg(sum($"n").as("n_events"),
          sum($"w" * $"n").as("decay_count_q20"),
          sum(expr("(w * sv) div 1048576")).as("decay_value_milli"))
    }, Some {
      val wList = decayQ20.mkString("[", ", ", "]")
      s"""WITH ev AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    CAST(floor(value * 1000) AS BIGINT) AS vm
         |  FROM events),
         |hz AS (SELECT max(day) AS hd FROM ev),
         |g AS (
         |  SELECT event_type, hd - day AS o, count(*) AS n, sum(vm) AS sv
         |  FROM ev CROSS JOIN hz GROUP BY 1, 2),
         |w AS (
         |  SELECT g.*, CASE WHEN o <= 30
         |    THEN ($wList)[CAST(o + 1 AS INT)] ELSE 0 END AS w
         |  FROM g)
         |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
         |  CAST(sum(w * n) AS BIGINT) AS decay_count_q20,
         |  CAST(sum((w * sv) // 1048576) AS BIGINT) AS decay_value_milli
         |FROM w GROUP BY 1""".stripMargin
    }),

    // DAU / WAU / stickiness per day (rolling-7-day distinct users):
    // the product-analytics engagement ratio, computed WITHOUT a
    // sliding count-distinct window (which no engine does exactly):
    // the corpus collapses to DISTINCT (day, user) once, each row
    // fans out to the ≤ 7 window-end days it contributes to via a
    // bounded day-grid range join, and a second distinct collapses
    // (window_day, user). Scale shape: two map-side-combined
    // distincts + one BNLJ against the value-domain-bounded day grid
    // (≤ 7× fan-out per row, q110 argument); stickiness is integer
    // ppm. The first 6 days report their partial-window WAU (the
    // standard dashboard convention).
    Q("q255_dau_wau", (s, d) => {
      import s.implicits._
      val du = t(s, d, "events")
        .select(expr("unix_micros(cast(ts as timestamp)) div 86400000000")
          .as("day"), $"user_id")
        .distinct().persist()
      val grid = du.select($"day").distinct()
      val dau = du.groupBy($"day").agg(count(lit(1)).as("dau"))
      val wau = du.select($"day".as("aday"), $"user_id")
        .join(broadcast(grid),
          $"aday" <= $"day" && $"aday" > $"day" - 7)
        .select($"day", $"user_id").distinct()
        .groupBy($"day").agg(count(lit(1)).as("wau"))
      dau.join(wau, "day")
        .select($"day", $"dau", $"wau",
          expr("(dau * 1000000) div wau").as("stickiness_ppm"))
    }, Some("""
      WITH du AS (
        SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
        FROM events),
      grid AS (SELECT DISTINCT day FROM du),
      dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
      wau AS (
        SELECT g.day, count(DISTINCT du.user_id) AS wau
        FROM grid g JOIN du
          ON du.day <= g.day AND du.day > g.day - 7
        GROUP BY 1)
      SELECT dau.day, CAST(dau.dau AS BIGINT) AS dau,
        CAST(wau.wau AS BIGINT) AS wau,
        CAST((dau.dau * 1000000) // wau.wau AS BIGINT) AS stickiness_ppm
      FROM dau JOIN wau ON wau.day = dau.day""")),

    // Mann–Whitney U per source (token lengths vs the whole corpus,
    // tie-corrected average ranks): the NONPARAMETRIC significance
    // companion to q143/q243 — KS/W1 measure distribution DISTANCE,
    // the rank-biserial effect size says which way a source's lengths
    // lean and how decisively, with no normality assumption. All rank
    // arithmetic is exact integers in DOUBLED units (a tied group's
    // average rank 2·cum_before + k + 1 is always integral when
    // doubled), so both engines agree to the last digit. Scale shape:
    // q143's audited grid frame — global cum window on the DISTINCT
    // token-length grid, per-(source, v) counts left-joined onto it,
    // registry-sized totals. rb = 1 − U·2/(n1·n2): the U·1e6 product
    // needs n1·n2 ≤ ~9e6 per int64 — at lake scale compute rb in
    // double after the exact integer U (documented, q203 convention).
    Q("q257_mannwhitney", (s, d) => {
      import s.implicits._
      val lens = t(s, d, "documents").select($"source",
        TextOps.tokenCount($"text").cast("long").as("v"))
      val wG = Window.orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val grid = lens.groupBy($"v").agg(count(lit(1)).as("kg"))
        .withColumn("cumg", sum($"kg").over(wG))
      val sv = lens.groupBy($"source", $"v").agg(count(lit(1)).as("ks"))
      val tot = lens.agg(count(lit(1)).as("n"))
      sv.join(grid, "v").crossJoin(broadcast(tot))
        .withColumn("r2", $"ks" * (lit(2) * ($"cumg" - $"kg") + $"kg" + 1))
        .groupBy($"source")
        .agg(sum($"ks").as("n1"), sum($"r2").as("r1x2"), max($"n").as("n"))
        .select($"source", $"n1".as("n_docs"),
          ($"r1x2" - $"n1" * ($"n1" + 1)).as("u_x2"),
          expr("""1000000 - ((r1x2 - n1 * (n1 + 1)) * 1000000)
            div (n1 * (n - n1))""").as("rb_ppm"))
    }, Some("""
      WITH l AS (SELECT source,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS v
                 FROM documents),
      g AS (SELECT v, count(*) AS kg FROM l GROUP BY 1),
      gg AS (SELECT v, kg, sum(kg) OVER (ORDER BY v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumg
             FROM g),
      sv AS (SELECT source, v, count(*) AS ks FROM l GROUP BY 1, 2),
      tot AS (SELECT count(*) AS n FROM l),
      m AS (
        SELECT sv.source, sum(sv.ks) AS n1,
          sum(sv.ks * (2 * (gg.cumg - gg.kg) + gg.kg + 1)) AS r1x2,
          max(tot.n) AS n
        FROM sv JOIN gg USING (v) CROSS JOIN tot
        GROUP BY 1)
      SELECT source, CAST(n1 AS BIGINT) AS n_docs,
        CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u_x2,
        CAST(1000000 - ((r1x2 - n1 * (n1 + 1)) * 1000000)
          // (n1 * (n - n1)) AS BIGINT) AS rb_ppm
      FROM m""")),

    // Day-of-phase one-way ANOVA on daily counts (a 7-phase "day of
    // week" grouping): eta² = SS_between / SS_total — the fraction of
    // daily-traffic variance explained by weekly seasonality, per
    // event type, with the peak phase alongside. Complements q178
    // (which profiles the seasonal SHAPE) and q183/q244 (trend) with
    // the variance-decomposition NUMBER a forecaster uses to decide
    // whether a weekly term belongs in the model at all. Scale shape:
    // corpus → (type, day) grid (value-domain bounded) → 7-row phase
    // frame per type; SS identities (Σy²−(Σy)²/n) keep everything one
    // pass and integer. Exactness: all div on non-negative sums;
    // int64 headroom as q246 (center y at lake scale).
    Q("q259_dow_anova", (s, d) => {
      import s.implicits._
      val daily = t(s, d, "events")
        .select($"event_type",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("day"))
        .groupBy($"event_type", $"day").agg(count(lit(1)).as("y"))
        .withColumn("ph", pmod($"day", lit(7L)))
      val phase = daily.groupBy($"event_type", $"ph")
        .agg(count(lit(1)).as("ng"), sum($"y").as("sg"),
          sum($"y" * $"y").as("ssg"))
      val wP = Window.partitionBy($"event_type")
        .orderBy(expr("(sg * 1000) div ng").desc, $"ph".asc)
      phase
        .withColumn("pk", row_number().over(wP))
        .groupBy($"event_type")
        .agg(sum($"ng").as("n_days"),
          sum($"sg").as("s"), sum($"ssg").as("ss"),
          sum(expr("(sg * sg) div ng")).as("ssb_raw"),
          max(when($"pk" === 1, $"ph")).as("peak_phase"))
        .select($"event_type", $"n_days", $"peak_phase",
          expr("ss - (s * s) div n_days").as("ss_total"),
          expr("ssb_raw - (s * s) div n_days").as("ss_between"))
        .withColumn("eta2_ppm", expr(
          "(ss_between * 1000000) div greatest(ss_total, 1)"))
    }, Some("""
      WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          count(*) AS y
        FROM events GROUP BY 1, 2),
      ph AS (SELECT event_type, day % 7 AS ph, y FROM daily),
      g AS (SELECT event_type, ph, count(*) AS ng, sum(y) AS sg,
              sum(y * y) AS ssg
            FROM ph GROUP BY 1, 2),
      r AS (SELECT g.*, row_number() OVER (PARTITION BY event_type
              ORDER BY (sg * 1000) // ng DESC, ph ASC) AS pk
            FROM g),
      m AS (
        SELECT event_type, sum(ng) AS n_days, sum(sg) AS s,
          sum(ssg) AS ss, sum((sg * sg) // ng) AS ssb_raw,
          max(CASE WHEN pk = 1 THEN ph END) AS peak_phase
        FROM r GROUP BY 1)
      SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        CAST(peak_phase AS BIGINT) AS peak_phase,
        CAST(ss - (s * s) // n_days AS BIGINT) AS ss_total,
        CAST(ssb_raw - (s * s) // n_days AS BIGINT) AS ss_between,
        CAST(((ssb_raw - (s * s) // n_days) * 1000000)
          // greatest(ss - (s * s) // n_days, 1) AS BIGINT) AS eta2_ppm
      FROM m""")),

    // Host-graph reciprocity + density (directed-graph health row):
    // share of edges whose reverse edge also exists — the mutuality
    // signal that separates link farms (high reciprocity cliques)
    // from organic citation structure; alongside q139 PageRank, q168
    // triangles, q193 k-core, q230 assortativity it completes the
    // graph-audit family. Scale shape: the corpus collapses to <=
    // 32x32 distinct edges in ONE map-side-combined distinct (q193's
    // registry argument); reciprocity is a self-join on that
    // registry-sized edge set; everything after is 1-row math.
    Q("q260_reciprocity", (s, d) => {
      import s.implicits._
      val edges = t(s, d, "documents")
        .select(($"doc_id" % 32).as("src"),
          ((($"doc_id" * 7) + 3) % 32).as("dst"))
        .distinct().persist()
      val recip = edges.as("e")
        .join(edges.select($"src".as("dst"), $"dst".as("src")).as("r"),
          Seq("src", "dst"), "left_semi")
        .agg(count(lit(1)).as("n_recip"))
      edges.agg(count(lit(1)).as("n_edges")).crossJoin(recip)
        .select($"n_edges", $"n_recip",
          expr("(n_recip * 1000000) div n_edges").as("recip_ppm"),
          expr("(n_edges * 1000000) div (32 * 31)").as("density_ppm"))
    }, Some("""
      WITH e AS (
        SELECT DISTINCT doc_id % 32 AS src, (doc_id * 7 + 3) % 32 AS dst
        FROM documents),
      r AS (SELECT count(*) AS n_recip FROM e
            WHERE EXISTS (SELECT 1 FROM e e2
              WHERE e2.src = e.dst AND e2.dst = e.src)),
      n AS (SELECT count(*) AS n_edges FROM e)
      SELECT CAST(n.n_edges AS BIGINT) AS n_edges,
        CAST(r.n_recip AS BIGINT) AS n_recip,
        CAST((r.n_recip * 1000000) // n.n_edges AS BIGINT) AS recip_ppm,
        CAST((n.n_edges * 1000000) // (32 * 31) AS BIGINT) AS density_ppm
      FROM n CROSS JOIN r""")),

    // Autocorrelation function of the daily series (lags 1-7, per
    // event type): THE time-series diagnostic — a spike at lag 7
    // confirms weekly structure (complementing q259's eta²), slow
    // decay says trend (q183/q244), all-noise says the series is
    // unforecastable. r_l = Σ(y_t−ȳ)(y_{t+l}−ȳ) / Σ(y_t−ȳ)², ppm.
    // Scale shape: corpus → (type, day) grid (value-domain bounded);
    // lagged self-join ON day+l over that grid (≤ 7 matches/row);
    // per-type mean/variance from a registry-sized agg broadcast
    // back. Exactness: centered products on integer milli means — the
    // centering differences are exact integers, products/sums exact,
    // one ppm div at the end (negative-safe: both engines truncate
    // toward zero).
    Q("q263_autocorrelation", (s, d) => {
      import s.implicits._
      val daily = t(s, d, "events")
        .select($"event_type",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("day"))
        .groupBy($"event_type", $"day").agg(count(lit(1)).as("y"))
        .persist()
      val stats = daily.groupBy($"event_type")
        .agg(count(lit(1)).as("nd"), sum($"y").as("sy"),
          sum($"y" * $"y").as("ssy"))
        .withColumn("ym", expr("sy div nd"))
      val c = daily.join(broadcast(stats), "event_type")
        .select($"event_type", $"day", ($"y" - $"ym").as("cy"))
      val lags = s.range(1, 8).toDF("lag")
      val num = c.select($"event_type", $"day", $"cy".as("cya"))
        .join(c.select($"event_type", $"cy".as("cyb"), $"day".as("db")),
          Seq("event_type"))
        .filter($"db" > $"day" && $"db" - $"day" <= 7)
        .select($"event_type", ($"db" - $"day").as("lag"),
          ($"cya" * $"cyb").as("p"))
        .groupBy($"event_type", $"lag").agg(sum($"p").as("num"))
      val den = c.groupBy($"event_type")
        .agg(sum($"cy" * $"cy").as("den"))
      lags.crossJoin(broadcast(den))
        .join(num, Seq("event_type", "lag"), "left_outer")
        .select($"event_type", $"lag",
          expr("(coalesce(num, 0) * 1000000) div greatest(den, 1)")
            .as("acf_ppm"))
    }, Some("""
      WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          count(*) AS y
        FROM events GROUP BY 1, 2),
      st AS (SELECT event_type, count(*) AS nd, sum(y) AS sy
             FROM daily GROUP BY 1),
      c AS (
        SELECT d.event_type, d.day, d.y - (st.sy // st.nd) AS cy
        FROM daily d JOIN st USING (event_type)),
      num AS (
        SELECT a.event_type, b.day - a.day AS lag, sum(a.cy * b.cy) AS num
        FROM c a JOIN c b ON b.event_type = a.event_type
          AND b.day > a.day AND b.day - a.day <= 7
        GROUP BY 1, 2),
      den AS (SELECT event_type, sum(cy * cy) AS den FROM c GROUP BY 1),
      lg AS (SELECT unnest(range(1, 8)) AS lag)
      SELECT den.event_type, CAST(lg.lag AS BIGINT) AS lag,
        CAST((coalesce(num.num, 0) * 1000000) // greatest(den.den, 1)
          AS BIGINT) AS acf_ppm
      FROM lg CROSS JOIN den
      LEFT JOIN num ON num.event_type = den.event_type
        AND num.lag = lg.lag""")),

    // A/A validity test (hash users into two arms that SHOULD match):
    // the negative-control run before any A/B readout — if a metric
    // "moves" between two identically-treated arms, the assignment,
    // logging, or metric itself is broken. Complements q174 (A/B
    // effect readout) and q234 (sample-ratio mismatch): SRM checks
    // COUNTS, this checks METRICS. Two metrics per row: events/user
    // (activity) and value mass/user. Scale shape: ONE user-level agg
    // (map-side combined), then a 2-row arm rollup; the assignment is
    // the q84 pure-hash row function — rerun/engine/repartition
    // stable. Exactness: per-arm means micro-quantized integer div;
    // the relative gap guards a zero denominator.
    Q("q264_aa_test", (s, d) => {
      import s.implicits._
      val users = t(s, d, "events")
        .select($"user_id", floor($"value" * 1000).cast("long").as("vm"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("ne"), sum($"vm").as("sv"))
        .withColumn("arm", (CorpusOps.hashMix($"user_id", 2L)).cast("long"))
      val arms = users.groupBy($"arm")
        .agg(count(lit(1)).as("n_users"), sum($"ne").as("se"),
          sum($"sv").as("sm"))
        .withColumn("events_per_user_micro",
          expr("(se * 1000000) div n_users"))
        .withColumn("value_per_user_milli", expr("sm div n_users"))
      val a = arms.filter($"arm" === 0).select($"n_users".as("n_a"),
        $"events_per_user_micro".as("epu_a"),
        $"value_per_user_milli".as("vpu_a"))
      val b = arms.filter($"arm" === 1).select($"n_users".as("n_b"),
        $"events_per_user_micro".as("epu_b"),
        $"value_per_user_milli".as("vpu_b"))
      a.crossJoin(b).select($"n_a", $"n_b", $"epu_a", $"epu_b",
        $"vpu_a", $"vpu_b",
        expr("((epu_a - epu_b) * 1000000) div greatest(epu_b, 1)")
          .as("epu_gap_ppm"),
        expr("((vpu_a - vpu_b) * 1000000) div greatest(vpu_b, 1)")
          .as("vpu_gap_ppm"))
    }, Some("""
      WITH u AS (
        SELECT user_id, count(*) AS ne,
          sum(CAST(floor(value * 1000) AS BIGINT)) AS sv,
          ((((user_id % 1000003) + 1000003) % 1000003 * 2654435761
            + 40503) % 2 + 2) % 2 AS arm
        FROM events GROUP BY 1),
      arms AS (
        SELECT arm, count(*) AS n_users, sum(ne) AS se, sum(sv) AS sm
        FROM u GROUP BY 1),
      m AS (
        SELECT arm, n_users, (se * 1000000) // n_users AS epu,
          sm // n_users AS vpu
        FROM arms),
      a AS (SELECT n_users AS n_a, epu AS epu_a, vpu AS vpu_a
            FROM m WHERE arm = 0),
      b AS (SELECT n_users AS n_b, epu AS epu_b, vpu AS vpu_b
            FROM m WHERE arm = 1)
      SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        CAST(epu_a AS BIGINT) AS epu_a, CAST(epu_b AS BIGINT) AS epu_b,
        CAST(vpu_a AS BIGINT) AS vpu_a, CAST(vpu_b AS BIGINT) AS vpu_b,
        CAST(((epu_a - epu_b) * 1000000) // greatest(epu_b, 1) AS BIGINT)
          AS epu_gap_ppm,
        CAST(((vpu_a - vpu_b) * 1000000) // greatest(vpu_b, 1) AS BIGINT)
          AS vpu_gap_ppm
      FROM a CROSS JOIN b""")),

    // Spearman rank correlation between doc length and quality score
    // (tie-corrected average ranks): the MONOTONE-association
    // companion to q242's Pearson — Pearson sees only linear
    // relationships and is wrecked by heavy tails; Spearman on ranks
    // answers "do longer docs score better AT ALL" robustly. Rank
    // arithmetic is exact integers in DOUBLED units (q257's device);
    // the final correlation is one floor over integer-fed doubles
    // (q242/q208 form). Scale shape: two value-domain grids (length /
    // quality-milli) carry the doubled average ranks; docs join each
    // grid ON THE VALUE (broadcast, grid-sized); ONE moment agg ends
    // it. Int64: Σrx·ry ≤ 4n³ — past n ≈ 10^6 switch the moment sums
    // to DECIMAL(38) (documented, q203 convention).
    Q("q265_spearman", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
        .select(TextOps.tokenCount($"text").cast("long").as("x"),
          floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("y"))
        .persist()
      def ranks(c: String) = {
        val wC = Window.orderBy(col(c).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs.groupBy(col(c)).agg(count(lit(1)).as("k"))
          .withColumn("cum", sum($"k").over(wC))
          .select(col(c), (lit(2) * ($"cum" - $"k") + $"k" + 1)
            .as(s"r$c"))
      }
      val j = docs.join(broadcast(ranks("x")), "x")
        .join(broadcast(ranks("y")), "y")
      j.agg(count(lit(1)).as("n"), sum($"rx").as("sx"), sum($"ry").as("sy"),
          sum($"rx" * $"ry").as("sxy"), sum($"rx" * $"rx").as("sxx"),
          sum($"ry" * $"ry").as("syy"))
        .select($"n",
          floor(lit(1000d) *
            ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
                 ($"n" * $"syy" - $"sy" * $"sy").cast("double")))
            .cast("long").as("spearman_milli"))
    }, Some("""
      WITH d AS (
        SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
            AS x,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS y
        FROM documents),
      gx AS (SELECT x, count(*) AS k FROM d GROUP BY 1),
      rx AS (SELECT x, 2 * (sum(k) OVER (ORDER BY x ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - k)
               + k + 1 AS rx
             FROM gx),
      gy AS (SELECT y, count(*) AS k FROM d GROUP BY 1),
      ry AS (SELECT y, 2 * (sum(k) OVER (ORDER BY y ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - k)
               + k + 1 AS ry
             FROM gy),
      m AS (
        SELECT count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
          sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
        FROM d JOIN rx USING (x) JOIN ry USING (y))
      SELECT CAST(n AS BIGINT) AS n,
        CAST(floor(1000 * CAST(n * sxy - sx * sy AS DOUBLE) /
          sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
               CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)
          AS spearman_milli
      FROM m""")),

    // Winsorized mean of doc lengths per source (clip at exact P5/P95,
    // lower-rank percentile semantics): the robust location estimate
    // BETWEEN q142's median (throws away all magnitude information)
    // and the raw mean (one 10^6-token doc moves it arbitrarily) —
    // the standard "mean without the tails" a curation dashboard
    // reports. Everything derives from the per-source length GRID:
    // the clip thresholds are grid rows at the ceil(0.05n)/ceil(0.95n)
    // ranks, and the winsorized sum is Σ k·clip(v) over the same grid
    // — the corpus is never re-scanned. Scale shape: ONE (source, v)
    // agg; per-source cum windows bounded by the value domain (q110
    // argument); threshold frames are registry-sized. All integer.
    Q("q267_winsorized_mean", (s, d) => {
      import s.implicits._
      val wS = Window.partitionBy($"source").orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val grid = t(s, d, "documents")
        .select($"source", TextOps.tokenCount($"text").cast("long").as("v"))
        .groupBy($"source", $"v").agg(count(lit(1)).as("k"))
        .withColumn("cum", sum($"k").over(wS))
        .persist()
      val tot = grid.groupBy($"source").agg(sum($"k").as("n"))
      def thresh(pct: Int, name: String) = {
        val wR = Window.partitionBy($"source").orderBy($"v".asc)
        grid.join(broadcast(tot), "source")
          .filter($"cum" >= expr(s"(n * $pct + 99) div 100"))
          .withColumn("rn", row_number().over(wR)).filter($"rn" === 1)
          .select($"source", $"v".as(name))
      }
      grid.join(broadcast(tot), "source")
        .join(broadcast(thresh(5, "lo")), "source")
        .join(broadcast(thresh(95, "hi")), "source")
        .withColumn("cv", least(greatest($"v", $"lo"), $"hi"))
        .groupBy($"source")
        .agg(max($"n").as("n_docs"), max($"lo").as("p5"),
          max($"hi").as("p95"),
          expr("(sum(k * v) * 1000) div max(n)").as("mean_milli"),
          expr("(sum(k * cv) * 1000) div max(n)").as("winsor_mean_milli"))
    }, Some("""
      WITH l AS (SELECT source,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS v
                 FROM documents),
      g AS (SELECT source, v, count(*) AS k FROM l GROUP BY 1, 2),
      gg AS (SELECT g.*, sum(k) OVER (PARTITION BY source ORDER BY v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM g),
      t AS (SELECT source, sum(k) AS n FROM g GROUP BY 1),
      lo AS (
        SELECT source, v AS lo FROM (
          SELECT gg.source, gg.v, row_number() OVER (
            PARTITION BY gg.source ORDER BY gg.v ASC) AS rn
          FROM gg JOIN t USING (source)
          WHERE gg.cum >= (t.n * 5 + 99) // 100) WHERE rn = 1),
      hi AS (
        SELECT source, v AS hi FROM (
          SELECT gg.source, gg.v, row_number() OVER (
            PARTITION BY gg.source ORDER BY gg.v ASC) AS rn
          FROM gg JOIN t USING (source)
          WHERE gg.cum >= (t.n * 95 + 99) // 100) WHERE rn = 1),
      j AS (
        SELECT gg.source, gg.k, gg.v, t.n, lo.lo, hi.hi,
          least(greatest(gg.v, lo.lo), hi.hi) AS cv
        FROM gg JOIN t USING (source) JOIN lo USING (source)
          JOIN hi USING (source))
      SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
        CAST(max(lo) AS BIGINT) AS p5, CAST(max(hi) AS BIGINT) AS p95,
        CAST((sum(k * v) * 1000) // max(n) AS BIGINT) AS mean_milli,
        CAST((sum(k * cv) * 1000) // max(n) AS BIGINT)
          AS winsor_mean_milli
      FROM j GROUP BY 1""")),

    // Synchronous min-label propagation, 3 BSP rounds, with per-round
    // convergence telemetry (labels changed, distinct labels, largest
    // community) — the community-SEEDING primitive next to the
    // centrality (q139/q155), density (q168/q193) and full-convergence
    // CC (q53, O(log n) large-star/small-star) family members: fixed
    // sub-convergence rounds cost a BOUNDED number of shuffles and the
    // changed-labels curve itself is the diagnostic (a flat curve says
    // the graph fragmented; a cliff says one giant component). Scale
    // shape: the corpus collapses to the <= C(96,2)-edge registry in
    // ONE map-side-combined distinct; the 3 BSP rounds then run on the
    // driver below the CorpusOps.boundedRows gate (each round was an
    // adj⋈labels join + a min agg — 2 shuffles on a 96-node frame),
    // with the node-keyed BSP loop unchanged above the cap; the
    // synthetic 96-node topology comes from the q193 salted-md5
    // family, but nothing in the plan depends on the registry size.
    Q("q273_label_propagation", (s, d) => {
      import s.implicits._
      val hx = DedupOps.hv32FromHexSql("md5(concat('c', cast(doc_id as string)))")
      val hy = DedupOps.hv32FromHexSql("md5(concat('d', cast(doc_id as string)))")
      val ed0 = t(s, d, "documents")
        .select(expr(s"$hx % 96").as("x"), expr(s"$hy % 96").as("y"))
        .filter($"x" =!= $"y")
        .select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))
        .distinct()
      CorpusOps.boundedRows(ed0) match {
        // nonEmpty: the all-null/zero row the distributed aggs emit on
        // an edgeless graph is left to the BSP branch
        case Some(rows) if rows.nonEmpty =>
          val adjL = rows.map(r => (r.getLong(0), r.getLong(1)))
            .flatMap { case (a, b) => Seq((a, b), (b, a)) }
          val nbrs = adjL.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
          var lab: Map[Long, Long] = nbrs.keySet.map(n => n -> n).toMap
          val out = (1 to 3).map { i =>
            val nxt = lab.map { case (n, l) =>
              n -> math.min(l, nbrs(n).map(lab).min)
            }
            val changed = nxt.count { case (n, l) => l != lab(n) }.toLong
            val comms = nxt.values.groupBy(identity).map(_._2.size.toLong)
            lab = nxt
            (i.toLong, changed, comms.size.toLong, comms.max)
          }
          out.toDF("round", "n_changed", "n_labels", "max_comm")
        case _ =>
          // persisted by boundedRows on its None path, but this `case _`
          // arm is ALSO reachable via Some(empty) — where boundedRows already
          // RELEASED the frame; re-pin it (no-op when still cached)
          val ed = if (ed0.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
            ed0.persist() else ed0
          val adj = ed.select($"a".as("node"), $"b".as("nbr"))
            .unionAll(ed.select($"b".as("node"), $"a".as("nbr")))
          val l0 = adj.select($"node").distinct()
            .select($"node", $"node".as("lab")).persist()
          def step(lab: org.apache.spark.sql.DataFrame) = {
            val nbrMin = adj
              .join(lab.select($"node".as("nbr"), $"lab".as("nlab")), "nbr")
              .groupBy($"node").agg(min($"nlab").as("nl"))
            lab.join(nbrMin, Seq("node"), "left_outer")
              .select($"node",
                least($"lab", coalesce($"nl", $"lab")).as("lab"))
              .persist()
          }
          val l1 = step(l0); val l2 = step(l1); val l3 = step(l2)
          def stats(cur: org.apache.spark.sql.DataFrame,
                    prev: org.apache.spark.sql.DataFrame, i: Int) =
            cur.join(prev.select($"node", $"lab".as("plab")), "node")
              .select($"lab", ($"lab" =!= $"plab").cast("long").as("ch"))
              .groupBy($"lab")
              .agg(count(lit(1)).as("cs"), sum($"ch").as("chs"))
              .agg(lit(i.toLong).as("round"), sum($"chs").as("n_changed"),
                count(lit(1)).as("n_labels"), max($"cs").as("max_comm"))
          stats(l1, l0, 1).unionAll(stats(l2, l1, 2))
            .unionAll(stats(l3, l2, 3))
      }
    }, Some(s"""
      WITH ed AS (
        SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM (
          SELECT
            (${DedupQueries.hvDuckOf("'c' || CAST(doc_id AS VARCHAR)")}) % 96
              AS x,
            (${DedupQueries.hvDuckOf("'d' || CAST(doc_id AS VARCHAR)")}) % 96
              AS y
          FROM documents)
        WHERE x <> y),
      adj AS (SELECT a AS node, b AS nbr FROM ed
              UNION ALL SELECT b, a FROM ed),
      l0 AS (SELECT DISTINCT node, node AS lab FROM adj),
      p1 AS (SELECT adj.node, min(l.lab) AS nl FROM adj
             JOIN l0 l ON l.node = adj.nbr GROUP BY 1),
      l1 AS (SELECT l0.node, least(l0.lab, coalesce(p1.nl, l0.lab)) AS lab
             FROM l0 LEFT JOIN p1 ON p1.node = l0.node),
      p2 AS (SELECT adj.node, min(l.lab) AS nl FROM adj
             JOIN l1 l ON l.node = adj.nbr GROUP BY 1),
      l2 AS (SELECT l1.node, least(l1.lab, coalesce(p2.nl, l1.lab)) AS lab
             FROM l1 LEFT JOIN p2 ON p2.node = l1.node),
      p3 AS (SELECT adj.node, min(l.lab) AS nl FROM adj
             JOIN l2 l ON l.node = adj.nbr GROUP BY 1),
      l3 AS (SELECT l2.node, least(l2.lab, coalesce(p3.nl, l2.lab)) AS lab
             FROM l2 LEFT JOIN p3 ON p3.node = l2.node),
      s1 AS (SELECT c.lab, count(*) AS cs,
               sum(CASE WHEN c.lab <> p.lab THEN 1 ELSE 0 END) AS chs
             FROM l1 c JOIN l0 p ON c.node = p.node GROUP BY 1),
      s2 AS (SELECT c.lab, count(*) AS cs,
               sum(CASE WHEN c.lab <> p.lab THEN 1 ELSE 0 END) AS chs
             FROM l2 c JOIN l1 p ON c.node = p.node GROUP BY 1),
      s3 AS (SELECT c.lab, count(*) AS cs,
               sum(CASE WHEN c.lab <> p.lab THEN 1 ELSE 0 END) AS chs
             FROM l3 c JOIN l2 p ON c.node = p.node GROUP BY 1)
      SELECT CAST(1 AS BIGINT) AS round,
        CAST(sum(chs) AS BIGINT) AS n_changed,
        CAST(count(*) AS BIGINT) AS n_labels,
        CAST(max(cs) AS BIGINT) AS max_comm FROM s1
      UNION ALL
      SELECT 2, CAST(sum(chs) AS BIGINT), count(*), max(cs) FROM s2
      UNION ALL
      SELECT 3, CAST(sum(chs) AS BIGINT), count(*), max(cs) FROM s3""")),

    // Multi-source BFS reachability profile: hop histogram from the
    // top-4 in-degree hubs over the directed link graph, 3 frontier
    // expansions — the "how much of the graph do the hubs cover in k
    // clicks" crawl-frontier / influence-radius readout that none of
    // the centrality or density queries answer. Scale shape: textbook
    // frontier BSP — each hop is ONE edges⋈frontier equi-join, a
    // distinct, and an anti-join against the visited set (all
    // node-keyed shuffles); frontiers and the visited set are
    // node-registry-bounded and persisted round-to-round (q193's
    // 2-consumer rule: each round's visited set feeds the anti-join
    // AND the union). Seed selection is a k=4 TakeOrderedAndProject
    // on (in-degree desc, node asc) — a total order, so the seed set
    // is engine-identical.
    Q("q274_multi_source_bfs", (s, d) => {
      import s.implicits._
      val hx = DedupOps.hv32FromHexSql("md5(concat('e', cast(doc_id as string)))")
      val hy = DedupOps.hv32FromHexSql("md5(concat('f', cast(doc_id as string)))")
      val ed0 = t(s, d, "documents")
        .select(expr(s"$hx % 128").as("x"), expr(s"$hy % 128").as("y"))
        .filter($"x" =!= $"y").distinct()
      CorpusOps.boundedRows(ed0) match {
        // the q193-family driver path: the corpus-collapsing distinct
        // above is the only corpus-scale stage; 3 frontier hops on a
        // <= 128^2-edge registry run locally (the -1 unreached row is
        // emitted even on an empty graph, matching the distributed agg)
        case Some(rows) =>
          val edL = rows.map(r => (r.getLong(0), r.getLong(1)))
          val out = edL.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
          val allNodes = (edL.map(_._1) ++ edL.map(_._2)).toSet
          val seeds = edL.groupBy(_._2).view.mapValues(_.size).toSeq
            .sortBy { case (n, ind) => (-ind, n) }.take(4).map(_._1)
          val dist = scala.collection.mutable.LongMap.empty[Long]
          seeds.foreach(nd => dist(nd) = 0L)
          var frontier = seeds.toSet
          (1 to 3).foreach { h =>
            frontier = frontier.iterator
              .flatMap(n => out.getOrElse(n, Array.empty[Long])).toSet
              .filterNot(n => dist.contains(n))
            frontier.foreach(nd => dist(nd) = h.toLong)
          }
          val reached = dist.values.toSeq.groupBy(identity)
            .map { case (h, g) => (h, g.size.toLong) }.toSeq
          val unreached = (-1L, (allNodes.size - dist.size).toLong)
          (reached :+ unreached).toDF("hop", "n_nodes")
        case None =>
          val ed = ed0 // boundedRows left it persisted on the None path
          val nodes = ed.select($"x".as("node"))
            .unionAll(ed.select($"y".as("node"))).distinct()
          val seeds = ed.groupBy($"y").agg(count(lit(1)).as("ind"))
            .orderBy($"ind".desc, $"y".asc).limit(4)
            .select($"y".as("node"))
          val h0 = seeds.select($"node", lit(0L).as("hop")).persist()
          def expand(dist: org.apache.spark.sql.DataFrame,
                     frontier: org.apache.spark.sql.DataFrame, h: Int) = {
            val nxt = ed.join(frontier.select($"node".as("x")), "x")
              .select($"y".as("node")).distinct()
              .join(dist, Seq("node"), "left_anti")
              .select($"node", lit(h.toLong).as("hop")).persist()
            (dist.unionAll(nxt).persist(), nxt)
          }
          val (d1, f1) = expand(h0, h0, 1)
          val (d2, f2) = expand(d1, f1, 2)
          val (d3, _) = expand(d2, f2, 3)
          val reached = d3.groupBy($"hop").agg(count(lit(1)).as("n_nodes"))
          val unreached = nodes.join(d3, Seq("node"), "left_anti")
            .agg(count(lit(1)).as("n_nodes"))
            .select(lit(-1L).as("hop"), $"n_nodes")
          reached.unionByName(unreached)
      }
    }, Some(s"""
      WITH ed AS (
        SELECT DISTINCT x, y FROM (
          SELECT
            (${DedupQueries.hvDuckOf("'e' || CAST(doc_id AS VARCHAR)")}) % 128
              AS x,
            (${DedupQueries.hvDuckOf("'f' || CAST(doc_id AS VARCHAR)")}) % 128
              AS y
          FROM documents)
        WHERE x <> y),
      nodes AS (SELECT x AS node FROM ed UNION SELECT y FROM ed),
      seeds AS (SELECT y AS node FROM ed GROUP BY 1
                ORDER BY count(*) DESC, y ASC LIMIT 4),
      h0 AS (SELECT node, CAST(0 AS BIGINT) AS hop FROM seeds),
      r1 AS (SELECT DISTINCT ed.y AS node FROM ed
             JOIN h0 ON ed.x = h0.node),
      h1 AS (SELECT node, CAST(1 AS BIGINT) AS hop FROM r1
             WHERE node NOT IN (SELECT node FROM h0)),
      d1 AS (SELECT * FROM h0 UNION ALL SELECT * FROM h1),
      r2 AS (SELECT DISTINCT ed.y AS node FROM ed
             JOIN h1 ON ed.x = h1.node),
      h2 AS (SELECT node, CAST(2 AS BIGINT) AS hop FROM r2
             WHERE node NOT IN (SELECT node FROM d1)),
      d2 AS (SELECT * FROM d1 UNION ALL SELECT * FROM h2),
      r3 AS (SELECT DISTINCT ed.y AS node FROM ed
             JOIN h2 ON ed.x = h2.node),
      h3 AS (SELECT node, CAST(3 AS BIGINT) AS hop FROM r3
             WHERE node NOT IN (SELECT node FROM d2)),
      d3 AS (SELECT * FROM d2 UNION ALL SELECT * FROM h3)
      SELECT hop, count(*) AS n_nodes FROM d3 GROUP BY 1
      UNION ALL
      SELECT CAST(-1 AS BIGINT), count(*) FROM nodes
      WHERE node NOT IN (SELECT node FROM d3)""")),

    // Peak interval concurrency per day ("max concurrent active users"
    // — the capacity-planning number): each user's active span per day
    // is an interval [first event, last event]; the sweep-line (+1 at
    // start, −1 after end, running sum, max) gives the peak overlap.
    // THE scale point: a naive sweep is ONE GLOBAL ordered prefix sum
    // — the textbook non-distributable pattern. Here the prefix sum is
    // TWO-LEVEL: within-(day, hour) running sums (bounded partitions)
    // plus per-day hour-offset cumsums over the ≤24-row hour grid
    // (value-domain bounded, q110 argument) — the classic distributed
    // scan decomposition; at any corpus size no window ever orders
    // more than one hour-bucket of boundary points. Tie order
    // (t asc, +1 before −1, user asc) is a total order, so the
    // running sum — and the peak — is engine-identical. The hour
    // bucket is DAY-ANCHORED and clamped ((t − day_start) div 1h,
    // capped at 23), not (t div 1h) % 24: a span ending on the final
    // microsecond of a day puts its −1 point at next-day 00:00, which
    // a %-derived bucket would wrap to hour 0 OF THE SAME day
    // partition — mis-ordering it relative to the oracle's single
    // day window (round-10 ADVICE). Day labels and epochs both
    // assume the UTC-pinned session timezone (Bench/Verify set it).
    Q("q275_interval_concurrency", (s, d) => {
      import s.implicits._
      val spans = t(s, d, "events")
        .select($"user_id",
          date_format(to_date($"ts".cast("timestamp")), "yyyy-MM-dd").as("day"),
          unix_micros($"ts".cast("timestamp")).as("ep"))
        .groupBy($"user_id", $"day")
        .agg(min($"ep").as("lo"), max($"ep").as("hi"))
      val pts = spans.select($"day", $"lo".as("t"), lit(1L).as("delta"),
          $"user_id")
        .unionAll(spans.select($"day", ($"hi" + 1).as("t"),
          lit(-1L).as("delta"), $"user_id"))
        .withColumn("hr", least(lit(23L), expr(
          "(t - unix_micros(to_timestamp(day))) div 3600000000")))
      val wIn = Window.partitionBy($"day", $"hr")
        .orderBy($"t".asc, $"delta".desc, $"user_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val l1 = pts.withColumn("rs", sum($"delta").over(wIn))
      val wHr = Window.partitionBy($"day").orderBy($"hr".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offs = pts.groupBy($"day", $"hr").agg(sum($"delta").as("ht"))
        .withColumn("off", sum($"ht").over(wHr) - $"ht")
        .select($"day", $"hr", $"off")
      l1.join(offs, Seq("day", "hr"))
        .select($"day", ($"off" + $"rs").as("conc"))
        .groupBy($"day")
        .agg((count(lit(1)) / 2).cast("long").as("n_spans"),
          max($"conc").as("peak_concurrency"))
    }, Some("""
      WITH spans AS (
        SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
          min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
        FROM events GROUP BY 1, 2),
      pts AS (
        SELECT day, lo AS t, CAST(1 AS BIGINT) AS delta, user_id FROM spans
        UNION ALL
        SELECT day, hi + 1, -1, user_id FROM spans),
      sweep AS (
        SELECT day,
          sum(delta) OVER (PARTITION BY day
            ORDER BY t ASC, delta DESC, user_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        FROM pts)
      SELECT day, CAST(count(*) / 2 AS BIGINT) AS n_spans,
        CAST(max(conc) AS BIGINT) AS peak_concurrency
      FROM sweep GROUP BY 1""")),

    // Per-user activity streaks (gaps & islands on the calendar):
    // distinct active days collapse into maximal consecutive-day runs
    // via the classic dayIndex − row_number device; the catalog-level
    // readout is the streak-length distribution (how many runs of
    // each length, how many users achieve one) — the engagement-
    // habit metric DAU/WAU (q255) and retention (q90) don't give.
    // Scale shape: ONE (user, day) distinct collapses the stream;
    // per-user windows ride the BOUNDED day grid (a user has at most
    // |calendar| distinct days — value-domain bounded, never
    // event-cardinality); the rollup is map-side-combined on the
    // (user, island) key then the ≤|calendar|-row length grid.
    Q("q276_activity_streaks", (s, d) => {
      import s.implicits._
      val days = t(s, d, "events")
        .select($"user_id",
          datediff(to_date($"ts".cast("timestamp")), lit("2024-01-01"))
            .cast("long").as("di"))
        .distinct()
      val wU = Window.partitionBy($"user_id").orderBy($"di".asc)
      val islands = days
        .withColumn("grp", $"di" - row_number().over(wU))
        .groupBy($"user_id", $"grp").agg(count(lit(1)).as("len"))
      islands.groupBy($"len".as("streak_len"))
        .agg(count(lit(1)).as("n_streaks"),
          countDistinct($"user_id").as("n_users"))
    }, Some("""
      WITH days AS (
        SELECT DISTINCT user_id,
          date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di
        FROM events),
      islands AS (
        SELECT user_id, di - row_number() OVER (
            PARTITION BY user_id ORDER BY di ASC) AS grp
        FROM days),
      runs AS (
        SELECT user_id, grp, count(*) AS len
        FROM islands GROUP BY 1, 2)
      SELECT CAST(len AS BIGINT) AS streak_len, count(*) AS n_streaks,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM runs GROUP BY 1""")),

    // Simpson's-paradox gate on the value-vs-time trend: the pooled
    // OLS slope of event value over the day index vs each event
    // type's within-group slope, flagging SIGN REVERSALS — the
    // aggregation-bias check that must run before any "metric is
    // trending up" claim built on pooled data (q183 fits per-type
    // trends; THIS query asks whether the pooled trend lies about
    // them). Exactness: classic integer OLS numerator/denominator
    // (n·Σxy − Σx·Σy over n·Σx² − (Σx)²) on milli-quantized values
    // and day indexes; one signed integer division per slope (both
    // engines truncate toward zero); int64 headroom to n ≈ 10^7
    // rows/group at the 30-day × milli-value domain — beyond that,
    // rescale y to centi (q265-class note). Scale shape: ONE
    // map-side-combined per-type moment agg; the pooled moments are
    // the SUM of the per-type frame (registry-sized, no second corpus
    // pass); the pooled scalar is the only broadcast.
    Q("q281_simpsons_paradox", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select($"event_type",
          datediff(to_date($"ts".cast("timestamp")), lit("2024-01-01"))
            .cast("long").as("x"),
          floor($"value" * 1000).cast("long").as("y"))
      val m = ev.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
          sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
          sum($"x" * $"y").as("sxy"))
        .withColumn("slope_milli",
          expr("((n * sxy - sx * sy) * 1000) div (n * sxx - sx * sx)"))
        .persist()
      val pooled = m.agg(sum($"n").as("pn"), sum($"sx").as("psx"),
          sum($"sy").as("psy"), sum($"sxx").as("psxx"),
          sum($"sxy").as("psxy"))
        .select(expr(
          "((pn * psxy - psx * psy) * 1000) div (pn * psxx - psx * psx)")
          .as("pooled_slope_milli"))
      m.crossJoin(broadcast(pooled))
        .select($"event_type", $"n", $"slope_milli", $"pooled_slope_milli",
          (($"slope_milli" > 0 && $"pooled_slope_milli" < 0) ||
            ($"slope_milli" < 0 && $"pooled_slope_milli" > 0))
            .cast("long").as("reversed"))
    }, Some("""
      WITH ev AS (
        SELECT event_type,
          date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
          CAST(floor(value * 1000) AS BIGINT) AS y
        FROM events),
      m AS (
        SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
          sum(x * x) AS sxx, sum(x * y) AS sxy
        FROM ev GROUP BY 1),
      sl AS (
        SELECT event_type, n,
          ((n * sxy - sx * sy) * 1000) // (n * sxx - sx * sx)
            AS slope_milli
        FROM m),
      p AS (
        SELECT ((sum(n) * sum(sxy) - sum(sx) * sum(sy)) * 1000)
          // (sum(n) * sum(sxx) - sum(sx) * sum(sx))
          AS pooled_slope_milli
        FROM m)
      SELECT event_type, CAST(n AS BIGINT) AS n,
        CAST(slope_milli AS BIGINT) AS slope_milli,
        CAST(pooled_slope_milli AS BIGINT) AS pooled_slope_milli,
        CAST(CASE WHEN (slope_milli > 0 AND pooled_slope_milli < 0)
          OR (slope_milli < 0 AND pooled_slope_milli > 0)
          THEN 1 ELSE 0 END AS BIGINT) AS reversed
      FROM sl CROSS JOIN p""")),

    // Cohort lifetime-value curve: users grouped by first-seen week,
    // cumulative value PER COHORT USER at each week offset — the
    // LTV/payback readout q90's retention (a COUNT curve) doesn't
    // give: two cohorts can retain identically while one monetizes 3×.
    // Scale shape: ONE per-user first-seen agg (map-side-combined),
    // one (cohort, week) value-mass agg onto the BOUNDED week×week
    // grid, cum windows riding that grid (q110 argument), cohort
    // sizes joined back registry-sized; per-user normalization is one
    // integer division at the end. Values floor-milli before summing.
    Q("q283_cohort_ltv", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select($"user_id",
          expr("datediff(to_date(cast(ts as timestamp)), '2024-01-01') div 7")
            .cast("long").as("wk"),
          floor($"value" * 1000).cast("long").as("vm"))
        .persist()
      val cohort = ev.groupBy($"user_id").agg(min($"wk").as("cw"))
      val sizes = cohort.groupBy($"cw").agg(count(lit(1)).as("n_users"))
      val mass = ev.join(cohort, "user_id")
        .groupBy($"cw", $"wk").agg(sum($"vm").as("wv"))
      val wC = Window.partitionBy($"cw").orderBy($"wk".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      mass.withColumn("cum", sum($"wv").over(wC))
        .join(sizes, "cw")
        .select($"cw".as("cohort_week"), ($"wk" - $"cw").as("week_offset"),
          $"n_users", expr("cum div n_users").as("ltv_milli_per_user"))
    }, Some("""
      WITH ev AS (
        SELECT user_id,
          date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk,
          CAST(floor(value * 1000) AS BIGINT) AS vm
        FROM events),
      cohort AS (SELECT user_id, min(wk) AS cw FROM ev GROUP BY 1),
      sizes AS (SELECT cw, count(*) AS n_users FROM cohort GROUP BY 1),
      mass AS (
        SELECT c.cw, e.wk, sum(e.vm) AS wv
        FROM ev e JOIN cohort c USING (user_id)
        GROUP BY 1, 2),
      cum AS (
        SELECT cw, wk, sum(wv) OVER (PARTITION BY cw ORDER BY wk ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM mass)
      SELECT cum.cw AS cohort_week, CAST(cum.wk - cum.cw AS BIGINT)
          AS week_offset,
        CAST(sizes.n_users AS BIGINT) AS n_users,
        CAST(cum.cum // sizes.n_users AS BIGINT) AS ltv_milli_per_user
      FROM cum JOIN sizes USING (cw)""")),

    // Transition-TIME matrix over consecutive per-user events: p50/p90
    // of the gap (minutes) for every (from, to) event-type pair — the
    // timing complement to q169's Markov transition PROBABILITIES
    // (q169 says users go click→purchase; this says how long that
    // edge takes, the journey-latency input a nudge/timeout policy
    // needs; q229 covers three funnel steps, this is the full
    // type×type matrix from raw adjacency). Exact percentiles
    // WITHOUT sorting event-cardinality rows: gaps bucket to the
    // minute grid (value-domain bounded by the calendar horizon,
    // q229/q110 argument), ONE (from, to, minute) agg, per-pair grid
    // windows, a 2-row literal percentile frame inequality-joined to
    // the grid. The per-user adjacency window orders (ts, event_id) —
    // a total order, so lag() is engine-identical under ties.
    Q("q285_transition_times", (s, d) => {
      import s.implicits._
      val wU = Window.partitionBy($"user_id")
        .orderBy($"ep".asc, $"event_id".asc)
      val tr = t(s, d, "events")
        .select($"user_id", $"event_id", $"event_type",
          unix_micros($"ts".cast("timestamp")).as("ep"))
        .withColumn("from_t", lag($"event_type", 1).over(wU))
        .withColumn("pep", lag($"ep", 1).over(wU))
        .filter($"from_t".isNotNull)
        .select($"from_t", $"event_type".as("to_t"),
          expr("(ep - pep) div 60000000").as("gm"))
      val grid = tr.groupBy($"from_t", $"to_t", $"gm")
        .agg(count(lit(1)).as("cnt")).persist()
      val tot = grid.groupBy($"from_t", $"to_t").agg(sum($"cnt").as("n"))
      val wP = Window.partitionBy($"from_t", $"to_t").orderBy($"gm".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pcts = Seq(50L, 90L).toDF("p")
      grid.withColumn("cum", sum($"cnt").over(wP))
        .join(tot, Seq("from_t", "to_t"))
        .crossJoin(broadcast(pcts))
        .filter($"cum" * 100 >= $"p" * $"n")
        .groupBy($"from_t", $"to_t", $"p").agg(min($"gm").as("g"),
          max($"n").as("n"))
        .groupBy($"from_t", $"to_t")
        .agg(max($"n").as("n_trans"),
          max(when($"p" === 50, $"g")).as("p50_gap_min"),
          max(when($"p" === 90, $"g")).as("p90_gap_min"))
    }, Some("""
      WITH ev AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ep
        FROM events),
      tr AS (
        SELECT lag(event_type, 1) OVER w AS from_t,
          event_type AS to_t,
          (ep - lag(ep, 1) OVER w) // 60000000 AS gm
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ep ASC, event_id ASC)),
      g AS (SELECT from_t, to_t, gm, count(*) AS cnt FROM tr
            WHERE from_t IS NOT NULL GROUP BY 1, 2, 3),
      tot AS (SELECT from_t, to_t, sum(cnt) AS n FROM g GROUP BY 1, 2),
      cum AS (
        SELECT g.from_t, g.to_t, g.gm, t.n,
          sum(g.cnt) OVER (PARTITION BY g.from_t, g.to_t
            ORDER BY g.gm ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM g JOIN tot t USING (from_t, to_t)),
      pc AS (SELECT CAST(p AS BIGINT) AS p
             FROM (VALUES (50), (90)) v(p)),
      hit AS (
        SELECT from_t, to_t, p, min(gm) AS g, max(n) AS n
        FROM cum CROSS JOIN pc
        WHERE cum * 100 >= p * n
        GROUP BY 1, 2, 3)
      SELECT from_t, to_t, CAST(max(n) AS BIGINT) AS n_trans,
        CAST(max(CASE WHEN p = 50 THEN g END) AS BIGINT) AS p50_gap_min,
        CAST(max(CASE WHEN p = 90 THEN g END) AS BIGINT) AS p90_gap_min
      FROM hit GROUP BY 1, 2""")),

    // Weighted single-source shortest paths, 3 Bellman-Ford relaxation
    // rounds from the top-out-degree hub — the COST-distance companion
    // to q274's hop-count BFS (a CDN/routing/crawl-budget question is
    // "how cheap", not "how few hops"; a 3-hop path can undercut a
    // 1-hop edge). Deterministic integer edge weights 1..9 ride the
    // same salted-md5 device as the topology, so both engines relax
    // the identical graph. Scale shape: pure node-keyed BSP — each
    // round is ONE edges⋈dist equi-join + a map-side-combined min agg
    // + a full-outer merge on the node key; dist frames are
    // node-registry-sized and persisted round-to-round (q193's
    // 2-consumer rule); fixed rounds = bounded shuffle count at any
    // graph size. The null-safe merge spells coalesce on BOTH sides
    // (least() null semantics differ across engines — never relied on).
    Q("q287_weighted_sssp", (s, d) => {
      import s.implicits._
      val hx = DedupOps.hv32FromHexSql("md5(concat('g', cast(doc_id as string)))")
      val hy = DedupOps.hv32FromHexSql("md5(concat('h', cast(doc_id as string)))")
      val hw = DedupOps.hv32FromHexSql("md5(concat('i', cast(doc_id as string)))")
      val ed0 = t(s, d, "documents")
        .select(expr(s"$hx % 128").as("x"), expr(s"$hy % 128").as("y"),
          expr(s"1 + $hw % 9").as("w"))
        .filter($"x" =!= $"y")
        .groupBy($"x", $"y").agg(min($"w").as("w"))
      CorpusOps.boundedRows(ed0) match {
        // q193-family driver path: the min-weight edge agg above is the
        // only corpus-scale stage; 3 Bellman-Ford relaxations on the
        // <= 128^2-edge registry run locally
        case Some(rows) =>
          val edL = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          val allNodes = (edL.map(_._1) ++ edL.map(_._2)).toSet
          val dist = scala.collection.mutable.LongMap.empty[Long]
          edL.groupBy(_._1).view.mapValues(_.size).toSeq
            .sortBy { case (n, outd) => (-outd, n) }.headOption
            .foreach { case (n, _) => dist(n) = 0L }
          (1 to 3).foreach { _ =>
            val upd = edL.iterator
              .filter(e => dist.contains(e._1))
              .map(e => e._2 -> (dist(e._1) + e._3)).toSeq
              .groupBy(_._1).view.mapValues(_.map(_._2).min)
            upd.foreach { case (n, c) =>
              dist(n) = dist.get(n).fold(c)(math.min(_, c))
            }
          }
          val reached = dist.values.toSeq.groupBy(identity)
            .map { case (v, g) => (v, g.size.toLong) }.toSeq
          (reached :+ (-1L, (allNodes.size - dist.size).toLong))
            .toDF("dist", "n_nodes")
        case None =>
          val ed = ed0 // boundedRows left it persisted on the None path
          val nodes = ed.select($"x".as("node"))
            .unionAll(ed.select($"y".as("node"))).distinct()
          val seed = ed.groupBy($"x").agg(count(lit(1)).as("outd"))
            .orderBy($"outd".desc, $"x".asc).limit(1)
            .select($"x".as("node"), lit(0L).as("dist"))
          val d0 = seed.persist()
          def relax(dist: org.apache.spark.sql.DataFrame) = {
            val upd = ed.join(dist.select($"node".as("x"), $"dist"), "x")
              .select($"y".as("node"), ($"dist" + $"w").as("cand"))
              .groupBy($"node").agg(min($"cand").as("cand"))
            dist.join(upd, Seq("node"), "full_outer")
              .select($"node",
                least(coalesce($"dist", $"cand"), coalesce($"cand", $"dist"))
                  .as("dist"))
              .persist()
          }
          val d3 = relax(relax(relax(d0)))
          d3.groupBy($"dist").agg(count(lit(1)).as("n_nodes"))
            .unionByName(nodes.join(d3, Seq("node"), "left_anti")
              .agg(count(lit(1)).as("n_nodes"))
              .select(lit(-1L).as("dist"), $"n_nodes"))
      }
    }, Some(s"""
      WITH raw AS (
        SELECT
          (${DedupQueries.hvDuckOf("'g' || CAST(doc_id AS VARCHAR)")}) % 128
            AS x,
          (${DedupQueries.hvDuckOf("'h' || CAST(doc_id AS VARCHAR)")}) % 128
            AS y,
          1 + (${DedupQueries.hvDuckOf("'i' || CAST(doc_id AS VARCHAR)")}) % 9
            AS w
        FROM documents),
      ed AS (SELECT x, y, min(w) AS w FROM raw WHERE x <> y GROUP BY 1, 2),
      nodes AS (SELECT x AS node FROM ed UNION SELECT y FROM ed),
      d0 AS (SELECT x AS node, CAST(0 AS BIGINT) AS dist FROM ed
             GROUP BY 1 ORDER BY count(*) DESC, x ASC LIMIT 1),
      u1 AS (SELECT ed.y AS node, min(d0.dist + ed.w) AS cand
             FROM ed JOIN d0 ON ed.x = d0.node GROUP BY 1),
      d1 AS (SELECT coalesce(d0.node, u1.node) AS node,
               least(coalesce(d0.dist, u1.cand), coalesce(u1.cand, d0.dist))
                 AS dist
             FROM d0 FULL OUTER JOIN u1 ON d0.node = u1.node),
      u2 AS (SELECT ed.y AS node, min(d1.dist + ed.w) AS cand
             FROM ed JOIN d1 ON ed.x = d1.node GROUP BY 1),
      d2 AS (SELECT coalesce(d1.node, u2.node) AS node,
               least(coalesce(d1.dist, u2.cand), coalesce(u2.cand, d1.dist))
                 AS dist
             FROM d1 FULL OUTER JOIN u2 ON d1.node = u2.node),
      u3 AS (SELECT ed.y AS node, min(d2.dist + ed.w) AS cand
             FROM ed JOIN d2 ON ed.x = d2.node GROUP BY 1),
      d3 AS (SELECT coalesce(d2.node, u3.node) AS node,
               least(coalesce(d2.dist, u3.cand), coalesce(u3.cand, d2.dist))
                 AS dist
             FROM d2 FULL OUTER JOIN u3 ON d2.node = u3.node)
      SELECT dist, count(*) AS n_nodes FROM d3 GROUP BY 1
      UNION ALL
      SELECT CAST(-1 AS BIGINT), count(*) FROM nodes
      WHERE node NOT IN (SELECT node FROM d3)""")),

    // EWMA control chart over the daily event count per type
    // (lambda = 1/4, 3-sigma asymptotic limits — the SPC operator a
    // metric-quality oncall runs before paging on a raw daily spike;
    // q246's changepoint finds ONE structural break, q119 flags rate
    // anomalies hour-by-hour, THIS tracks the smoothed level against
    // control limits day-by-day). Exactness: smoothing weights
    // floor(2^20 · (3/4)^k) are EXACT binary rationals precomputed as
    // identical integer literals in both engines (ewmaQ20, decayQ20
    // convention); the EWMA is a weighted integer sum normalized by
    // the PARTIAL available mass (no warm-up bias at the series
    // start); the 3-sigma test runs in SQUARED integer form —
    // 7·dev² > 9·var (sigma_ewma² = sigma²·lambda/(2-lambda) = sigma²/7)
    // — so no sqrt appears anywhere. Scale shape: the dense
    // type×day series lives on the BOUNDED calendar×registry grid
    // (q110 argument); the 32-step lookback is a ≤32× fan-out
    // grid-to-grid range join; corpus touched ONCE by the
    // map-side-combined (type, day) count agg.
    Q("q289_ewma_control", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select($"event_type",
          datediff(to_date($"ts".cast("timestamp")), lit("2024-01-01"))
            .cast("long").as("di"))
      val cnt = ev.groupBy($"event_type", $"di")
        .agg(count(lit(1)).as("y"))
      val days = cnt.select($"di").distinct()
      val types = cnt.select($"event_type").distinct()
      val dense = types.crossJoin(days)
        .join(cnt, Seq("event_type", "di"), "left_outer")
        .select($"event_type", $"di", coalesce($"y", lit(0L)).as("y"))
        .persist()
      val wts = ewmaQ20.zipWithIndex
        .map { case (w, k) => (k.toLong, w) }.toDF("k", "w")
      val ew = dense.as("c")
        .join(dense.as("p"),
          $"c.event_type" === $"p.event_type" &&
            $"p.di" <= $"c.di" && $"p.di" > $"c.di" - 32)
        .select($"c.event_type".as("event_type"), $"c.di".as("di"),
          ($"c.di" - $"p.di").as("k"), $"p.y".as("py"))
        .join(broadcast(wts), "k")
        .groupBy($"event_type", $"di")
        .agg(sum($"w" * $"py").as("num"), sum($"w").as("mass"))
        .select($"event_type", $"di",
          expr("(num * 1000) div mass").as("ewma_milli"))
      val st = dense.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"y").as("sy"),
          sum($"y" * $"y").as("syy"))
        .select($"event_type", $"n",
          expr("(sy * 1000) div n").as("mu_milli"),
          expr("((n * syy - sy * sy) * 1000000) div (n * n)")
            .as("var_milli2"))
      ew.join(st, "event_type")
        .select($"event_type", $"n", $"mu_milli", $"var_milli2",
          ($"ewma_milli" - $"mu_milli").as("dev"))
        .groupBy($"event_type")
        .agg(max($"n").as("n_days"), max($"mu_milli").as("mu_milli"),
          max($"var_milli2").as("var_milli2"),
          sum(when($"dev" * $"dev" * 7 > $"var_milli2" * 9, 1L)
            .otherwise(0L)).as("n_flagged"),
          max(greatest($"dev", -$"dev")).as("max_dev_milli"))
    }, Some(s"""
      WITH cnt AS (
        SELECT event_type,
          date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
          count(*) AS y
        FROM events GROUP BY 1, 2),
      dense AS (
        SELECT t.event_type, dd.di, coalesce(c.y, 0) AS y
        FROM (SELECT DISTINCT event_type FROM cnt) t
        CROSS JOIN (SELECT DISTINCT di FROM cnt) dd
        LEFT JOIN cnt c ON c.event_type = t.event_type AND c.di = dd.di),
      wts AS (SELECT CAST(k AS BIGINT) AS k, CAST(w AS BIGINT) AS w
              FROM (VALUES ${ewmaQ20.zipWithIndex
                .map { case (w, k) => s"($k, $w)" }.mkString(", ")}) v(k, w)),
      ew AS (
        SELECT c.event_type, c.di,
          (sum(w.w * p.y) * 1000) // sum(w.w) AS ewma_milli
        FROM dense c
        JOIN dense p ON p.event_type = c.event_type
          AND p.di <= c.di AND p.di > c.di - 32
        JOIN wts w ON w.k = c.di - p.di
        GROUP BY 1, 2),
      st AS (
        SELECT event_type, count(*) AS n,
          (sum(y) * 1000) // count(*) AS mu_milli,
          ((count(*) * sum(y * y) - sum(y) * sum(y)) * 1000000)
            // (count(*) * count(*)) AS var_milli2
        FROM dense GROUP BY 1)
      SELECT st.event_type, CAST(max(st.n) AS BIGINT) AS n_days,
        CAST(max(st.mu_milli) AS BIGINT) AS mu_milli,
        CAST(max(st.var_milli2) AS BIGINT) AS var_milli2,
        CAST(sum(CASE WHEN (ew.ewma_milli - st.mu_milli) *
            (ew.ewma_milli - st.mu_milli) * 7 > st.var_milli2 * 9
          THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        CAST(max(greatest(ew.ewma_milli - st.mu_milli,
          st.mu_milli - ew.ewma_milli)) AS BIGINT) AS max_dev_milli
      FROM ew JOIN st USING (event_type) GROUP BY 1""")),

    // Exponential distribution-fit QQ audit on per-user inter-event
    // gaps, per event type (fit the rate by moments — mean gap — then
    // compare EMPIRICAL gap deciles against the exponential's
    // theoretical ones, mean·(−ln(1−k/10)) with the quantile
    // constants embedded as identical integer-micro literals in both
    // engines) — the Poisson-process SHAPE gate for arrivals: q200's
    // Fano factor scores dispersion in one number, q282 fits
    // lognormal LENGTHS; this asks "are arrival gaps memoryless?",
    // the assumption behind every queueing/staffing readout. A heavy
    // QQ tail deviation = bursty sessions (and invalidates
    // exponential-backoff style rate models). Exactness: gaps bucket
    // to the minute grid (calendar-bounded, q285 argument); deciles
    // via the q282 cum + lower-rank device; theoretical deciles ONE
    // integer (sum·qk) div (n·1e6) each; per-user adjacency windows
    // ride (user, type) partitions ordered by the (ts, event_id)
    // total order.
    Q("q297_exponential_qq", (s, d) => {
      import s.implicits._
      val wU = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ep".asc, $"event_id".asc)
      val gaps = t(s, d, "events")
        .select($"user_id", $"event_id", $"event_type",
          unix_micros($"ts".cast("timestamp")).as("ep"))
        .withColumn("pep", lag($"ep", 1).over(wU))
        .filter($"pep".isNotNull)
        .select($"event_type", expr("(ep - pep) div 60000000").as("gm"))
      val grid = gaps.groupBy($"event_type", $"gm")
        .agg(count(lit(1)).as("cnt")).persist()
      val st = grid.groupBy($"event_type")
        .agg(sum($"cnt").as("n"), sum($"cnt" * $"gm").as("sg"))
      val wC = Window.partitionBy($"event_type").orderBy($"gm".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ks = expQMicro.zipWithIndex
        .map { case (q, i) => (i.toLong + 1, q) }.toDF("k", "qk")
      val emp = grid.withColumn("cum", sum($"cnt").over(wC))
        .join(st, "event_type")
        .crossJoin(broadcast(ks))
        .filter($"cum" * 10 >= $"k" * $"n")
        .groupBy($"event_type", $"k")
        .agg(min($"gm").as("e"), max($"n").as("n"), max($"sg").as("sg"),
          max($"qk").as("qk"))
      emp
        .select($"event_type", $"n", $"sg", $"k",
          ($"e" - expr("(sg * qk) div (n * 1000000)")).as("dev"))
        .groupBy($"event_type")
        .agg(max($"n").as("n_gaps"),
          expr("max((sg * 1000) div n)").as("mean_gap_min_milli"),
          max(greatest($"dev", -$"dev")).as("max_qq_dev_min"),
          expr("sum(greatest(dev, -dev)) div 9").as("mean_qq_dev_min"))
    }, Some(s"""
      WITH ev AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ep
        FROM events),
      gaps AS (
        SELECT event_type,
          (ep - lag(ep, 1) OVER (PARTITION BY user_id, event_type
            ORDER BY ep ASC, event_id ASC)) // 60000000 AS gm
        FROM ev),
      grid AS (SELECT event_type, gm, count(*) AS cnt FROM gaps
               WHERE gm IS NOT NULL GROUP BY 1, 2),
      st AS (SELECT event_type, sum(cnt) AS n, sum(cnt * gm) AS sg
             FROM grid GROUP BY 1),
      ks AS (SELECT CAST(k AS BIGINT) AS k, CAST(qk AS BIGINT) AS qk
             FROM (VALUES ${expQMicro.zipWithIndex
               .map { case (q, i) => s"(${i + 1}, $q)" }.mkString(", ")})
             v(k, qk)),
      cum AS (
        SELECT g.event_type, g.gm, st.n, st.sg,
          sum(g.cnt) OVER (PARTITION BY g.event_type ORDER BY g.gm ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM grid g JOIN st USING (event_type)),
      emp AS (
        SELECT event_type, k, min(gm) AS e, max(n) AS n, max(sg) AS sg,
          max(qk) AS qk
        FROM cum CROSS JOIN ks
        WHERE cum * 10 >= k * n
        GROUP BY 1, 2),
      dev AS (
        SELECT event_type, n, sg,
          e - (sg * qk) // (n * 1000000) AS dv
        FROM emp)
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
        CAST(max((sg * 1000) // n) AS BIGINT) AS mean_gap_min_milli,
        CAST(max(greatest(dv, -dv)) AS BIGINT) AS max_qq_dev_min,
        CAST(sum(greatest(dv, -dv)) // 9 AS BIGINT) AS mean_qq_dev_min
      FROM dev GROUP BY 1""")),

    // Haar wavelet energy decomposition of the first-32-day daily
    // activity series per event type (unnormalized integer Haar detail
    // coefficients at scales 2,4,8,16,32 days, Parseval-weighted
    // energies, per-scale share) — "at WHAT timescale does activity
    // vary": a day-scale spike profile (level 1 heavy) asks for
    // day-level capacity, a week-scale swing (levels 3-4) for weekly
    // staffing; q263's ACF measures correlation at fixed lags, q178
    // extracts ONE weekly shape — this allocates total variance across
    // ALL dyadic timescales at once. Exactness: coefficients are ±1
    // signed integer sums over the zero-filled dyadic grid; Parseval
    // weights 2^(5-level) keep every energy an EXACT integer (the
    // orthonormal 1/sqrt(2^level) squared, rescaled by 32 — shares are
    // invariant to the common factor). Scale shape: ONE map-side-
    // combined (type, day) count agg touches the corpus; the dense
    // 32-day grid, the 5-level crossJoin (constant), and all rollups
    // are registry×32-sized.
    Q("q298_haar_energy", (s, d) => {
      import s.implicits._
      val cnt = t(s, d, "events")
        .select($"event_type",
          datediff(to_date($"ts".cast("timestamp")), lit("2024-01-01"))
            .cast("long").as("di"))
        .filter($"di" >= 0 && $"di" < 32)
        .groupBy($"event_type", $"di").agg(count(lit(1)).as("y"))
      val days = (0L to 31L).toDF("di")
      val dense = cnt.select($"event_type").distinct()
        .crossJoin(broadcast(days))
        .join(cnt, Seq("event_type", "di"), "left_outer")
        .select($"event_type", $"di", coalesce($"y", lit(0L)).as("y"))
      val levels = (1 to 5).map(l =>
        (l.toLong, 1L << l, 1L << (l - 1), 1L << (5 - l)))
        .toDF("level", "s", "h", "pw")
      val coef = dense.crossJoin(broadcast(levels))
        .groupBy($"event_type", $"level", $"pw",
          expr("di div s").as("blk"))
        .agg(sum($"y" * (lit(1L) - lit(2L) * expr("(di div h) % 2")))
          .as("c"))
      val en = coef.groupBy($"event_type", $"level")
        .agg(sum($"c" * $"c" * $"pw").as("energy_u"))
      val tot = en.groupBy($"event_type")
        .agg(sum($"energy_u").as("te"))
      en.join(tot, "event_type")
        .select($"event_type", $"level", $"energy_u",
          expr("""CASE WHEN te = 0 THEN 0
            ELSE (energy_u * 1000000) div te END""").as("share_ppm"))
    }, Some("""
      WITH cnt AS (
        SELECT event_type,
          date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
          count(*) AS y
        FROM events
        WHERE date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) >= 0
          AND date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) < 32
        GROUP BY 1, 2),
      dense AS (
        SELECT t.event_type, dd.di, coalesce(c.y, 0) AS y
        FROM (SELECT DISTINCT event_type FROM cnt) t
        CROSS JOIN (SELECT CAST(d AS BIGINT) AS di FROM range(0, 32) r(d)) dd
        LEFT JOIN cnt c ON c.event_type = t.event_type AND c.di = dd.di),
      levels AS (
        SELECT CAST(level AS BIGINT) AS level, CAST(s AS BIGINT) AS s,
          CAST(h AS BIGINT) AS h, CAST(pw AS BIGINT) AS pw
        FROM (VALUES (1, 2, 1, 16), (2, 4, 2, 8), (3, 8, 4, 4),
          (4, 16, 8, 2), (5, 32, 16, 1)) v(level, s, h, pw)),
      coef AS (
        SELECT d.event_type, l.level, l.pw, d.di // l.s AS blk,
          sum(d.y * (1 - 2 * ((d.di // l.h) % 2))) AS c
        FROM dense d CROSS JOIN levels l
        GROUP BY 1, 2, 3, 4),
      en AS (
        SELECT event_type, level, sum(c * c * pw) AS energy_u
        FROM coef GROUP BY 1, 2),
      tot AS (SELECT event_type, sum(energy_u) AS te FROM en GROUP BY 1)
      SELECT en.event_type, en.level, CAST(en.energy_u AS BIGINT)
          AS energy_u,
        CAST(CASE WHEN tot.te = 0 THEN 0
          ELSE (en.energy_u * 1000000) // tot.te END AS BIGINT)
          AS share_ppm
      FROM en JOIN tot USING (event_type)""")),

    // Seasonal-naive forecast backtest per event type (predict day t
    // as day t−7; MAE, signed bias, sMAPE, and the MASE-style ratio
    // vs the naive-1 baseline y_{t−1}) — THE forecasting floor every
    // model must beat before it ships: q178 finds the weekly shape,
    // q183/q244 fit trends, q289 monitors the level; none of them
    // BACKTESTS a prediction rule. mase_milli < 1000 certifies the
    // weekly structure is real out-of-sample (seasonal-naive beats
    // last-value); > 1000 says the weekly signal doesn't generalize.
    // Exactness: all-integer on the zero-filled calendar grid; sMAPE
    // per-day one ppm div on a guarded denominator; the two lag
    // windows ride (type)-partitioned VALUE-DOMAIN day grids (q110
    // argument — never event-cardinality rows). Scale shape: ONE
    // map-side-combined (type, day) count agg touches the corpus;
    // everything after is registry×calendar-sized.
    Q("q307_seasonal_backtest", (s, d) => {
      import s.implicits._
      val cnt = t(s, d, "events")
        .select($"event_type",
          datediff(to_date($"ts".cast("timestamp")), lit("2024-01-01"))
            .cast("long").as("di"))
        .groupBy($"event_type", $"di").agg(count(lit(1)).as("y"))
      val days = cnt.select($"di").distinct()
      val dense = cnt.select($"event_type").distinct()
        .crossJoin(days)
        .join(cnt, Seq("event_type", "di"), "left_outer")
        .select($"event_type", $"di", coalesce($"y", lit(0L)).as("y"))
      val wT = Window.partitionBy($"event_type").orderBy($"di".asc)
      val sc = dense
        .withColumn("f7", lag($"y", 7).over(wT))
        .withColumn("f1", lag($"y", 1).over(wT))
        .filter($"f7".isNotNull && $"f1".isNotNull)
        .select($"event_type", $"y", $"f7", $"f1",
          greatest($"y" - $"f7", $"f7" - $"y").as("ae7"),
          greatest($"y" - $"f1", $"f1" - $"y").as("ae1"),
          ($"y" - $"f7").as("e7"))
        .withColumn("smape_ppm",
          when($"y" + $"f7" === 0, 0L)
            .otherwise(expr("(2 * ae7 * 1000000) div (y + f7)")))
      sc.groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"),
          expr("(sum(ae7) * 1000) div count(1)").as("mae7_milli"),
          expr("(sum(e7) * 1000) div count(1)").as("bias_milli"),
          expr("sum(smape_ppm) div count(1)").as("smape_ppm"),
          expr("""CASE WHEN sum(ae1) = 0 THEN 0
            ELSE (sum(ae7) * 1000) div sum(ae1) END""").as("mase_milli"))
    }, Some("""
      WITH cnt AS (
        SELECT event_type,
          date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
          count(*) AS y
        FROM events GROUP BY 1, 2),
      dense AS (
        SELECT t.event_type, dd.di, coalesce(c.y, 0) AS y
        FROM (SELECT DISTINCT event_type FROM cnt) t
        CROSS JOIN (SELECT DISTINCT di FROM cnt) dd
        LEFT JOIN cnt c ON c.event_type = t.event_type AND c.di = dd.di),
      lagd AS (
        SELECT event_type, y,
          lag(y, 7) OVER w AS f7, lag(y, 1) OVER w AS f1
        FROM dense
        WINDOW w AS (PARTITION BY event_type ORDER BY di ASC)),
      sc AS (
        SELECT event_type, y, f7, f1,
          greatest(y - f7, f7 - y) AS ae7,
          greatest(y - f1, f1 - y) AS ae1,
          y - f7 AS e7,
          CASE WHEN y + f7 = 0 THEN 0
            ELSE (2 * greatest(y - f7, f7 - y) * 1000000) // (y + f7)
            END AS smape_ppm
        FROM lagd WHERE f7 IS NOT NULL AND f1 IS NOT NULL)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        CAST((sum(ae7) * 1000) // count(*) AS BIGINT) AS mae7_milli,
        CAST((sum(e7) * 1000) // count(*) AS BIGINT) AS bias_milli,
        CAST(sum(smape_ppm) // count(*) AS BIGINT) AS smape_ppm,
        CAST(CASE WHEN sum(ae1) = 0 THEN 0
          ELSE (sum(ae7) * 1000) // sum(ae1) END AS BIGINT) AS mase_milli
      FROM sc GROUP BY 1""")),

    // Group-sequential A/B monitoring with an O'Brien-Fleming-style
    // boundary (daily looks at the cumulative two-arm count difference
    // under a hash A/A split; z²_k crosses when z²_k > z²_alpha·K/k —
    // the OBF shape that spends almost no alpha early and relaxes to
    // the fixed-horizon z at the final look) — the PEEKING-SAFE
    // monitor every daily-refreshed A/B dashboard needs: q174 is the
    // one-shot readout, q264 validates arms once; THIS is the
    // look-every-day protocol, run here as a negative control (null
    // effect by construction, so crossings measure the boundary's
    // actual false-alarm behavior). Exactness: z²_k for a count diff
    // is (nA−nB)²/(nA+nB); the crossing test is cross-multiplied to
    // ONE integer comparison (nA−nB)²·k·1e6 > z²_alpha_micro·K·(nA+nB)
    // — no division, no sqrt; z²_alpha = 3.841459 micro literal.
    // Scale shape: arm assignment is the q84 pure-hash row function;
    // ONE (day) agg with per-arm conditional sums; cumulative looks
    // ride the bounded calendar grid (q110 argument); 1-row rollup.
    Q("q311_sequential_probe", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select(
          datediff(to_date($"ts".cast("timestamp")), lit("2024-01-01"))
            .cast("long").as("di"),
          CorpusOps.hashMix($"user_id", 2L).as("arm"))
      val daily = ev.groupBy($"di")
        .agg(sum(when($"arm" === 0, 1L).otherwise(0L)).as("a"),
          sum(when($"arm" === 1, 1L).otherwise(0L)).as("b"))
      val wD = Window.orderBy($"di".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val looks = daily
        .withColumn("na", sum($"a").over(wD))
        .withColumn("nb", sum($"b").over(wD))
        .withColumn("k", count(lit(1)).over(wD))
        .select($"di", $"k", $"na", $"nb")
      val kTot = looks.agg(max($"k").as("kk"))
      looks.crossJoin(broadcast(kTot))
        .select($"di", $"k", $"kk", $"na", $"nb",
          (($"na" - $"nb") * ($"na" - $"nb") * $"k" * 1000000L)
            .as("lhs"),
          (lit(3841459L) * $"kk" * ($"na" + $"nb")).as("rhs"))
        .select($"di", $"kk",
          when($"lhs" > $"rhs", 1L).otherwise(0L).as("crossed"),
          expr("""CASE WHEN na + nb = 0 THEN 0
            ELSE (lhs div greatest(na + nb, 1)) div kk END""")
            .as("stat_ppm"))
        .agg(max($"kk").as("n_looks"), sum($"crossed").as("n_crossings"),
          coalesce(min(when($"crossed" === 1, $"di")), lit(-1L))
            .as("first_crossing_day"),
          max($"stat_ppm").as("max_stat_ppm"))
        .select($"n_looks", $"n_crossings", $"first_crossing_day",
          $"max_stat_ppm", lit(3841459L).as("z2_alpha_micro"))
    }, Some("""
      WITH ev AS (
        SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
          ((((user_id % 1000003) + 1000003) % 1000003
            * 2654435761 + 40503) % 2 + 2) % 2 AS arm
        FROM events),
      daily AS (
        SELECT di,
          sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS a,
          sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS b
        FROM ev GROUP BY 1),
      looks AS (
        SELECT di,
          count(*) OVER w AS k, sum(a) OVER w AS na, sum(b) OVER w AS nb
        FROM daily
        WINDOW w AS (ORDER BY di ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      kt AS (SELECT max(k) AS kk FROM looks),
      st AS (
        SELECT di, kk,
          CASE WHEN (na - nb) * (na - nb) * k * 1000000
            > 3841459 * kk * (na + nb) THEN 1 ELSE 0 END AS crossed,
          CASE WHEN na + nb = 0 THEN 0
            ELSE (((na - nb) * (na - nb) * k * 1000000)
              // greatest(na + nb, 1)) // kk END AS stat_ppm
        FROM looks CROSS JOIN kt)
      SELECT CAST(max(kk) AS BIGINT) AS n_looks,
        CAST(sum(crossed) AS BIGINT) AS n_crossings,
        CAST(coalesce(min(CASE WHEN crossed = 1 THEN di END), -1)
          AS BIGINT) AS first_crossing_day,
        CAST(max(stat_ppm) AS BIGINT) AS max_stat_ppm,
        CAST(3841459 AS BIGINT) AS z2_alpha_micro
      FROM st""")),

    // Weekly growth accounting (new / retained / resurrected /
    // churned user decomposition + the quick ratio (new +
    // resurrected) / churned) — THE startup-metrics identity:
    // active(w) = new + retained + resurrected, and churned(w) =
    // active(w−1) − retained(w); q90's retention matrix and q255's
    // DAU/WAU count ACTIVITY, this explains each week's CHANGE in it.
    // Exactness: pure distinct counts on the (user, week) frame; the
    // identity is pinned in RoundAuditsSpec; quick ratio one guarded
    // integer div. Scale shape: ONE (user, week) distinct collapses
    // the stream; first-seen is a per-user min agg; retention/
    // resurrection are user-keyed self-joins of the distinct frame
    // (linear); weekly rollups registry×weeks-sized.
    Q("q317_growth_accounting", (s, d) => {
      import s.implicits._
      val uw = t(s, d, "events")
        .select($"user_id",
          expr("datediff(to_date(cast(ts as timestamp)), '2024-01-01') div 7")
            .cast("long").as("w"))
        .distinct().persist()
      val first = uw.groupBy($"user_id").agg(min($"w").as("fw"))
      val prev = uw.select($"user_id", ($"w" + 1).as("w"),
        lit(1L).as("wasActive"))
      val j = uw.join(first, "user_id")
        .join(prev, Seq("user_id", "w"), "left_outer")
        .select($"w",
          when($"fw" === $"w", 1L).otherwise(0L).as("isNew"),
          when($"wasActive".isNotNull, 1L).otherwise(0L).as("isRet"),
          when($"fw" < $"w" && $"wasActive".isNull, 1L).otherwise(0L)
            .as("isRes"))
      val weekly = j.groupBy($"w")
        .agg(count(lit(1)).as("active"), sum($"isNew").as("n_new"),
          sum($"isRet").as("retained"), sum($"isRes").as("resurrected"))
        .persist()
      val ch = weekly.select(($"w" + 1).as("w"),
        $"active".as("prev_active"))
      weekly.join(ch, Seq("w"), "left_outer")
        .select($"w".as("week"), $"active", $"n_new", $"retained",
          $"resurrected",
          (coalesce($"prev_active", lit(0L)) - $"retained").as("churned"))
        .withColumn("quick_ratio_milli",
          expr("""CASE WHEN churned <= 0 THEN -1
            ELSE ((n_new + resurrected) * 1000) div churned END"""))
    }, Some("""
      WITH uw AS (
        SELECT DISTINCT user_id,
          date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS w
        FROM events),
      f AS (SELECT user_id, min(w) AS fw FROM uw GROUP BY 1),
      j AS (
        SELECT uw.w,
          CASE WHEN f.fw = uw.w THEN 1 ELSE 0 END AS isNew,
          CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS isRet,
          CASE WHEN f.fw < uw.w AND p.user_id IS NULL THEN 1 ELSE 0 END
            AS isRes
        FROM uw JOIN f USING (user_id)
        LEFT JOIN uw p ON p.user_id = uw.user_id AND p.w = uw.w - 1),
      weekly AS (
        SELECT w, count(*) AS active, sum(isNew) AS n_new,
          sum(isRet) AS retained, sum(isRes) AS resurrected
        FROM j GROUP BY 1)
      SELECT a.w AS week, CAST(a.active AS BIGINT) AS active,
        CAST(a.n_new AS BIGINT) AS n_new,
        CAST(a.retained AS BIGINT) AS retained,
        CAST(a.resurrected AS BIGINT) AS resurrected,
        CAST(coalesce(p.active, 0) - a.retained AS BIGINT) AS churned,
        CAST(CASE WHEN coalesce(p.active, 0) - a.retained <= 0 THEN -1
          ELSE ((a.n_new + a.resurrected) * 1000)
            // (coalesce(p.active, 0) - a.retained) END AS BIGINT)
          AS quick_ratio_milli
      FROM weekly a LEFT JOIN weekly p ON p.w = a.w - 1""")),

    // RFM segmentation (recency / frequency / monetary terciles per
    // user, 27-cell segment table with user counts and value mass —
    // the classic marketing/CRM operator: q90/q317 describe the
    // population week by week, RFM SEGMENTS it into actionable cells:
    // 333 = champions, 1xx = at-risk). Exactness: tercile cuts are
    // exact lower-rank thresholds from cumulative masses over each
    // metric's VALUE GRID (q110 argument — recency rides the calendar
    // grid, frequency the count grid, monetary the milli-value grid);
    // per-user cell assignment is three grid lookups; all-integer.
    // Scale shape: ONE map-side-combined per-user agg; three bounded
    // grids with cum windows; the user frame joins each ≤2-row
    // threshold frame via broadcast; final rollup is ≤27 rows.
    Q("q318_rfm_segments", (s, d) => {
      import s.implicits._
      val per = t(s, d, "events")
        .select($"user_id",
          datediff(to_date($"ts".cast("timestamp")), lit("2024-01-01"))
            .cast("long").as("di"),
          floor($"value" * 1000).cast("long").as("vm"))
        .groupBy($"user_id")
        .agg(max($"di").as("r"), count(lit(1)).as("f"),
          sum($"vm").as("m"))
        .persist()
      val nTot = per.agg(count(lit(1)).as("n"))
      def cuts(c: String) = {
        val grid = per.groupBy(col(c).as("v"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.orderBy($"v".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ks = Seq(1L, 2L).toDF("tk")
        grid.withColumn("cum", sum($"cnt").over(w))
          .crossJoin(broadcast(nTot))
          .crossJoin(broadcast(ks))
          .filter($"cum" * 3 >= $"tk" * $"n")
          .groupBy($"tk").agg(min($"v").as("thr"))
          .groupBy()
          .agg(max(when($"tk" === 1, $"thr")).as(s"${c}1"),
            max(when($"tk" === 2, $"thr")).as(s"${c}2"))
      }
      per.crossJoin(broadcast(cuts("r")))
        .crossJoin(broadcast(cuts("f")))
        .crossJoin(broadcast(cuts("m")))
        .select(
          (when($"r" <= $"r1", 1L).when($"r" <= $"r2", 2L).otherwise(3L))
            .as("r_t"),
          (when($"f" <= $"f1", 1L).when($"f" <= $"f2", 2L).otherwise(3L))
            .as("f_t"),
          (when($"m" <= $"m1", 1L).when($"m" <= $"m2", 2L).otherwise(3L))
            .as("m_t"),
          $"m")
        .groupBy($"r_t", $"f_t", $"m_t")
        .agg(count(lit(1)).as("n_users"), sum($"m").as("value_milli"))
    }, Some("""
      WITH per AS (
        SELECT user_id,
          max(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))
            AS r,
          count(*) AS f,
          sum(CAST(floor(value * 1000) AS BIGINT)) AS m
        FROM events GROUP BY 1),
      nt AS (SELECT count(*) AS n FROM per),
      tk AS (SELECT CAST(k AS BIGINT) AS tk FROM (VALUES (1), (2)) v(k)),
      rcum AS (
        SELECT v, sum(cnt) OVER (ORDER BY v ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM (SELECT r AS v, count(*) AS cnt FROM per GROUP BY 1)),
      rth AS (
        SELECT max(CASE WHEN tk = 1 THEN thr END) AS r1,
          max(CASE WHEN tk = 2 THEN thr END) AS r2
        FROM (SELECT tk.tk, min(rcum.v) AS thr
              FROM rcum CROSS JOIN nt CROSS JOIN tk
              WHERE rcum.cum * 3 >= tk.tk * nt.n GROUP BY 1)),
      fcum AS (
        SELECT v, sum(cnt) OVER (ORDER BY v ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM (SELECT f AS v, count(*) AS cnt FROM per GROUP BY 1)),
      fth AS (
        SELECT max(CASE WHEN tk = 1 THEN thr END) AS f1,
          max(CASE WHEN tk = 2 THEN thr END) AS f2
        FROM (SELECT tk.tk, min(fcum.v) AS thr
              FROM fcum CROSS JOIN nt CROSS JOIN tk
              WHERE fcum.cum * 3 >= tk.tk * nt.n GROUP BY 1)),
      mcum AS (
        SELECT v, sum(cnt) OVER (ORDER BY v ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM (SELECT m AS v, count(*) AS cnt FROM per GROUP BY 1)),
      mth AS (
        SELECT max(CASE WHEN tk = 1 THEN thr END) AS m1,
          max(CASE WHEN tk = 2 THEN thr END) AS m2
        FROM (SELECT tk.tk, min(mcum.v) AS thr
              FROM mcum CROSS JOIN nt CROSS JOIN tk
              WHERE mcum.cum * 3 >= tk.tk * nt.n GROUP BY 1)),
      seg AS (
        SELECT
          CASE WHEN per.r <= rth.r1 THEN 1
               WHEN per.r <= rth.r2 THEN 2 ELSE 3 END AS r_t,
          CASE WHEN per.f <= fth.f1 THEN 1
               WHEN per.f <= fth.f2 THEN 2 ELSE 3 END AS f_t,
          CASE WHEN per.m <= mth.m1 THEN 1
               WHEN per.m <= mth.m2 THEN 2 ELSE 3 END AS m_t,
          per.m
        FROM per CROSS JOIN rth CROSS JOIN fth CROSS JOIN mth)
      SELECT CAST(r_t AS BIGINT) AS r_t, CAST(f_t AS BIGINT) AS f_t,
        CAST(m_t AS BIGINT) AS m_t, count(*) AS n_users,
        CAST(sum(m) AS BIGINT) AS value_milli
      FROM seg GROUP BY 1, 2, 3""")),

    // Newman modularity of the q273 label-propagation partition
    // (Q = Σ_c [e_c/m − (d_c/2m)²] — the standard "is this community
    // structure real" score; Q near 0 says the partition is no better
    // than a random degree-preserving wiring, so the communities the
    // label prop found shouldn't drive any routing/curation decision)
    // — the QUALITY gate for the community-seeding primitive, which
    // q273's convergence telemetry alone can't certify. Exactness:
    // e_c (intra-community edges) and d_c (community degree mass) are
    // exact integers; Q in ppm = Σ_c (e_c·4m − d_c²)·1e6 div (4m²) —
    // one integer div, int64-safe at the registry scale. Scale shape:
    // the corpus collapses to the <= C(96,2)-edge registry in ONE
    // map-side-combined distinct; label prop + the modularity rollup
    // then run on the driver below the CorpusOps.boundedRows gate
    // (q273's two-path design), with the BSP rounds + community-sized
    // distributed rollup unchanged above the cap.
    Q("q322_modularity", (s, d) => {
      import s.implicits._
      val hx = DedupOps.hv32FromHexSql("md5(concat('c', cast(doc_id as string)))")
      val hy = DedupOps.hv32FromHexSql("md5(concat('d', cast(doc_id as string)))")
      val ed0 = t(s, d, "documents")
        .select(expr(s"$hx % 96").as("x"), expr(s"$hy % 96").as("y"))
        .filter($"x" =!= $"y")
        .select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))
        .distinct()
      CorpusOps.boundedRows(ed0) match {
        // q193-family driver path: q273's 3 label-prop rounds + the
        // modularity rollup on the <= C(96,2)-edge registry run
        // locally; integer arithmetic replicated term for term
        // (contrib = (ec·4m − dc²)·1e6, truncating div by 4m²)
        case Some(rows) if rows.nonEmpty =>
          val edL = rows.map(r => (r.getLong(0), r.getLong(1)))
          val adjL = edL.flatMap { case (a, b) => Seq((a, b), (b, a)) }
          val nbrs = adjL.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
          var lab: Map[Long, Long] = nbrs.keySet.map(n => n -> n).toMap
          (1 to 3).foreach { _ =>
            lab = lab.map { case (n, l) =>
              n -> math.min(l, nbrs(n).map(lab).min)
            }
          }
          val m = edL.length.toLong
          val ec = edL.filter { case (a, b) => lab(a) == lab(b) }
            .groupBy { case (a, _) => lab(a) }.view
            .mapValues(_.length.toLong).toMap
          val deg = adjL.groupBy(_._1).view.mapValues(_.length.toLong)
          val dc = deg.toSeq.groupBy { case (n, _) => lab(n) }.view
            .mapValues(_.map(_._2).sum).toMap
          val contrib = dc.map { case (l, dcv) =>
            (ec.getOrElse(l, 0L) * 4 * m - dcv * dcv) * 1000000L
          }.sum
          Seq((dc.size.toLong, contrib / (4 * m * m), m))
            .toDF("n_communities", "modularity_ppm", "n_edges")
        case _ =>
          // persisted by boundedRows on its None path, but this `case _`
          // arm is ALSO reachable via Some(empty) — where boundedRows already
          // RELEASED the frame; re-pin it (no-op when still cached)
          val ed = if (ed0.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
            ed0.persist() else ed0
          val adj = ed.select($"a".as("node"), $"b".as("nbr"))
            .unionAll(ed.select($"b".as("node"), $"a".as("nbr")))
          val l0 = adj.select($"node").distinct()
            .select($"node", $"node".as("lab")).persist()
          def step(lab: org.apache.spark.sql.DataFrame) = {
            val nbrMin = adj
              .join(lab.select($"node".as("nbr"), $"lab".as("nlab")), "nbr")
              .groupBy($"node").agg(min($"nlab").as("nl"))
            lab.join(nbrMin, Seq("node"), "left_outer")
              .select($"node",
                least($"lab", coalesce($"nl", $"lab")).as("lab"))
              .persist()
          }
          val l3 = step(step(step(l0)))
          val mEdges = ed.agg(count(lit(1)).as("m"))
          val intra = ed
            .join(l3.select($"node".as("a"), $"lab".as("la")), "a")
            .join(l3.select($"node".as("b"), $"lab".as("lb")), "b")
            .filter($"la" === $"lb")
            .groupBy($"la".as("lab")).agg(count(lit(1)).as("ec"))
          val degs = adj.groupBy($"node").agg(count(lit(1)).as("deg"))
            .join(l3, "node")
            .groupBy($"lab").agg(sum($"deg").as("dc"))
          val perC = degs.join(intra, Seq("lab"), "left_outer")
            .select($"lab", coalesce($"ec", lit(0L)).as("ec"), $"dc")
            .persist()
          perC.crossJoin(broadcast(mEdges))
            .select((($"ec" * 4 * $"m" - $"dc" * $"dc") * 1000000L)
              .as("contrib"), $"m")
            .agg(count(lit(1)).as("n_communities"),
              expr("sum(contrib) div (4 * max(m) * max(m))")
                .as("modularity_ppm"), max($"m").as("n_edges"))
      }
    }, Some(s"""
      WITH ed AS (
        SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM (
          SELECT
            (${DedupQueries.hvDuckOf("'c' || CAST(doc_id AS VARCHAR)")}) % 96
              AS x,
            (${DedupQueries.hvDuckOf("'d' || CAST(doc_id AS VARCHAR)")}) % 96
              AS y
          FROM documents)
        WHERE x <> y),
      adj AS (SELECT a AS node, b AS nbr FROM ed
              UNION ALL SELECT b, a FROM ed),
      l0 AS (SELECT DISTINCT node, node AS lab FROM adj),
      p1 AS (SELECT adj.node, min(l.lab) AS nl FROM adj
             JOIN l0 l ON l.node = adj.nbr GROUP BY 1),
      l1 AS (SELECT l0.node, least(l0.lab, coalesce(p1.nl, l0.lab)) AS lab
             FROM l0 LEFT JOIN p1 ON p1.node = l0.node),
      p2 AS (SELECT adj.node, min(l.lab) AS nl FROM adj
             JOIN l1 l ON l.node = adj.nbr GROUP BY 1),
      l2 AS (SELECT l1.node, least(l1.lab, coalesce(p2.nl, l1.lab)) AS lab
             FROM l1 LEFT JOIN p2 ON p2.node = l1.node),
      p3 AS (SELECT adj.node, min(l.lab) AS nl FROM adj
             JOIN l2 l ON l.node = adj.nbr GROUP BY 1),
      l3 AS (SELECT l2.node, least(l2.lab, coalesce(p3.nl, l2.lab)) AS lab
             FROM l2 LEFT JOIN p3 ON p3.node = l2.node),
      me AS (SELECT count(*) AS m FROM ed),
      intra AS (
        SELECT la.lab, count(*) AS ec
        FROM ed JOIN l3 la ON la.node = ed.a
        JOIN l3 lb ON lb.node = ed.b
        WHERE la.lab = lb.lab GROUP BY 1),
      degs AS (
        SELECT l3.lab, sum(dd.deg) AS dc
        FROM (SELECT node, count(*) AS deg FROM adj GROUP BY 1) dd
        JOIN l3 ON l3.node = dd.node GROUP BY 1),
      perc AS (
        SELECT degs.lab, coalesce(intra.ec, 0) AS ec, degs.dc
        FROM degs LEFT JOIN intra USING (lab))
      SELECT CAST(count(*) AS BIGINT) AS n_communities,
        CAST(sum((ec * 4 * me.m - dc * dc) * 1000000)
          // (4 * max(me.m) * max(me.m)) AS BIGINT) AS modularity_ppm,
        CAST(max(me.m) AS BIGINT) AS n_edges
      FROM perc CROSS JOIN me""")),

    // Common-neighbor link prediction (top-10 NON-edges by Jaccard of
    // neighborhoods — the classic "you may also link" primitive:
    // q296 asks whether EXISTING wedges close; this RANKS the open
    // ones as candidates, the crawl-frontier / recommendation readout
    // of the same structure). Exactness: |Γa∩Γb| from the wedge join,
    // |Γa∪Γb| = deg(a)+deg(b)−common, Jaccard integer ppm, top-10 on
    // the (score, a, b) total order. Scale shape: wedge enumeration
    // on degree<=20 centers (q296's cap, excluded hubs counted
    // there); existing edges removed by ONE (a, b)-keyed anti-join;
    // degree frames registry-sized.
    Q("q323_link_prediction", (s, d) => {
      import s.implicits._
      // node space scales with the corpus (~8 docs/node at any SF —
      // q69's oracleDyn sizing convention) so the synthetic graph
      // keeps a bounded average degree; a FIXED node count would
      // densify at scale until the degree cap excludes every center
      val nn = math.max(
        graft.catalog.Stats.parquetRowCount(s, s"$d/documents.parquet") / 8,
        128L)
      val hx = DedupOps.hv32FromHexSql("md5(concat('e', cast(doc_id as string)))")
      val hy = DedupOps.hv32FromHexSql("md5(concat('f', cast(doc_id as string)))")
      val ed = t(s, d, "documents")
        .select(expr(s"$hx % $nn").as("x"), expr(s"$hy % $nn").as("y"))
        .filter($"x" =!= $"y")
        .select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))
        .distinct().persist()
      val adj = ed.select($"a".as("c"), $"b".as("x"))
        .unionAll(ed.select($"b".as("c"), $"a".as("x")))
      val deg = adj.groupBy($"c").agg(count(lit(1)).as("deg")).persist()
      val aok = adj.join(deg.filter($"deg" <= 20).select($"c"), "c")
      val common = aok.select($"c", $"x".as("xa"))
        .join(aok.select($"c", $"x".as("xb")), "c")
        .filter($"xa" < $"xb")
        .groupBy($"xa", $"xb").agg(count(lit(1)).as("cn"))
      val open = common
        .join(ed.select($"a".as("xa"), $"b".as("xb")), Seq("xa", "xb"),
          "left_anti")
        .join(deg.select($"c".as("xa"), $"deg".as("da")), "xa")
        .join(deg.select($"c".as("xb"), $"deg".as("db")), "xb")
        .select($"xa".as("node_a"), $"xb".as("node_b"), $"cn",
          expr("(cn * 1000000) div (da + db - cn)").as("jaccard_ppm"))
      open.orderBy($"jaccard_ppm".desc, $"node_a".asc, $"node_b".asc)
        .limit(10)
    }, Some(AnalyticsQueries.linkPredOracleSql(128L)),
      oracleDyn = Some((s, d) => AnalyticsQueries.linkPredOracleSql(
        math.max(graft.catalog.Stats
          .parquetRowCount(s, s"$d/documents.parquet") / 8, 128L)))),

    // k-truss peel (the triangle-support sibling of q193's k-core: an
    // edge survives only while it closes >= k-2 triangles among the
    // surviving edges — the denser-than-core community definition used
    // for spam-farm / cohesive-subgraph extraction). 3 fixed rounds of
    // support-filtered peeling (sup >= 24, 4-truss-style on the mod-128
    // registry graph), per round: edges alive, min/max support.
    // Two-path (q193 family): ONE corpus-collapsing distinct agg builds
    // the <= C(128,2) edge frame; below CorpusOps.boundedRows the peel
    // runs driver-local (neighbor-set intersections); above it the
    // distributed loop enumerates each round's triangles via the
    // oriented wedge join (a<b<c once) + closing-edge equi-join — never
    // an all-pairs product — and unions the 3 per-edge projections for
    // support. Exactness: pure integer counts; salted-md5 endpoints
    // (q193's anti-affine lesson).
    Q("q352_ktruss", (s, d) => {
      import s.implicits._
      // support threshold scales with the registry graph's density
      // (fixed 128-node space + corpus-proportional draws → expected
      // support grows ~(1-e^(-n/8128))²·126; a FIXED threshold either
      // kills everything at small SF or peels nothing at large SF —
      // q323's oracleDyn sizing convention, replayed here for k)
      val kk = AnalyticsQueries.ktrussK(
        graft.catalog.Stats.parquetRowCount(s, s"$d/documents.parquet"))
      val hx = DedupOps.hv32FromHexSql("md5(concat('a', cast(doc_id as string)))")
      val hy = DedupOps.hv32FromHexSql("md5(concat('b', cast(doc_id as string)))")
      val ed0 = t(s, d, "documents")
        .select(expr(s"$hx % 128").as("x"), expr(s"$hy % 128").as("y"))
        .filter($"x" =!= $"y")
        .select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))
        .distinct()
      CorpusOps.boundedRows(ed0) match {
        case Some(rows) =>
          var es: Set[(Long, Long)] =
            rows.map(r => (r.getLong(0), r.getLong(1))).toSet
          val out = (1 to 3).map { i =>
            val adj = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
              .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
            val sup = es.toSeq.map { case (a, b) =>
              (a, b, (adj(a) & adj(b)).size.toLong)
            }
            val kept = sup.filter(_._3 >= kk)
            es = kept.map(t3 => (t3._1, t3._2)).toSet
            (i.toLong, kept.size.toLong,
              if (kept.isEmpty) 0L else kept.map(_._3).min,
              if (kept.isEmpty) 0L else kept.map(_._3).max)
          }
          out.toDF("round", "edges_alive", "min_sup", "max_sup")
        case None =>
          val e0 = ed0 // boundedRows left it persisted on the None path
          def peel(e: org.apache.spark.sql.DataFrame) = {
            // oriented wedges (a, y, z) with y < z, closed by (y, z) ∈ e:
            // each triangle a<y<z found exactly once
            val tri = e.select($"a".as("x"), $"b".as("y"))
              .join(e.select($"a".as("x"), $"b".as("z")), "x")
              .filter($"y" < $"z")
              .join(e.select($"a".as("y"), $"b".as("z")), Seq("y", "z"),
                "left_semi")
            val sup = tri.select($"x".as("a"), $"y".as("b"))
              .unionAll(tri.select($"x".as("a"), $"z".as("b")))
              .unionAll(tri.select($"y".as("a"), $"z".as("b")))
              .groupBy($"a", $"b").agg(count(lit(1)).as("sup"))
            sup.filter($"sup" >= kk)
          }
          // frontiers are <= C(128,2) rows; persist each round (the peel
          // reads its input three times — q193's materialization lesson)
          val r1 = peel(e0).persist()
          val r2 = peel(r1.select($"a", $"b")).persist()
          val r3 = peel(r2.select($"a", $"b"))
          Seq((r1, 1), (r2, 2), (r3, 3)).map { case (r, i) =>
            r.agg(lit(i.toLong).as("round"),
              count(lit(1)).as("edges_alive"),
              coalesce(min($"sup"), lit(0L)).as("min_sup"),
              coalesce(max($"sup"), lit(0L)).as("max_sup"))
          }.reduce(_ unionAll _)
      }
    }, Some(AnalyticsQueries.ktrussOracleSql(AnalyticsQueries.ktrussK(500L))),
      oracleDyn = Some((s, d) => AnalyticsQueries.ktrussOracleSql(
        AnalyticsQueries.ktrussK(graft.catalog.Stats
          .parquetRowCount(s, s"$d/documents.parquet"))))),

    // Harmonic closeness centrality (the "how near is everyone" axis the
    // graph family lacked: pagerank/HITS rank INFLUENCE, k-core/truss
    // rank DENSITY — closeness ranks REACH; harmonic form handles
    // disconnected graphs without infinities). Per node: peers reached
    // within 8 hops and sum(1e6 div d) — all-integer, order-free.
    // Distances come from THREE MIN-PLUS DOUBLINGS (1 → 2 → 4 → 8 hops)
    // on the ≤64-node registry graph: the 8-hop horizon IS the
    // construction, so both engines agree exactly (no BFS/convergence
    // corner). Two-path (q193 family): driver BFS capped at 8 below the
    // boundedRows gate; above it each doubling is a min-plus self-join
    // on the ≤64²-row distance frame, persisted per round — frames are
    // value-domain bounded at ANY corpus size, never corpus rows.
    Q("q355_harmonic_closeness", (s, d) => {
      import s.implicits._
      val hx = DedupOps.hv32FromHexSql("md5(concat('a', cast(doc_id as string)))")
      val hy = DedupOps.hv32FromHexSql("md5(concat('b', cast(doc_id as string)))")
      val ed0 = t(s, d, "documents")
        .select(expr(s"$hx % 64").as("x"), expr(s"$hy % 64").as("y"))
        .filter($"x" =!= $"y")
        .select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))
        .distinct()
      CorpusOps.boundedRows(ed0) match {
        case Some(rows) =>
          val ed = rows.map(r => (r.getLong(0), r.getLong(1)))
          val adj: Map[Long, Seq[Long]] =
            ed.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
              .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
          val nodes = adj.keySet.toSeq.sorted
          nodes.map { s0 =>
            val dist = scala.collection.mutable.Map(s0 -> 0L)
            var frontier = Seq(s0)
            (1 to 8).foreach { h => // cap = the doubling construction's horizon
              frontier = frontier
                .flatMap(n => adj.getOrElse(n, Seq.empty))
                .distinct.filterNot(n => dist.contains(n))
              frontier.foreach(dist(_) = h.toLong)
            }
            val rs = dist.view.filterKeys(_ != s0).values.toSeq
            (s0, rs.size.toLong, rs.map(1000000L / _).sum)
          }.toDF("node", "n_reached", "harmonic_micro")
        case None =>
          val e0 = ed0 // boundedRows left it persisted on the None path
          val d1 = e0.select($"a".as("u"), $"b".as("v"), lit(1L).as("dd"))
            .unionAll(e0.select($"b".as("u"), $"a".as("v"), lit(1L).as("dd")))
            .persist()
          def double(dk: org.apache.spark.sql.DataFrame) = {
            val mp = dk.select($"u", $"v".as("w"), $"dd".as("d1"))
              .join(dk.select($"u".as("w"), $"v", $"dd".as("d2")), "w")
              .filter($"u" =!= $"v")
              .select($"u", $"v", ($"d1" + $"d2").as("dd"))
            dk.select($"u", $"v", $"dd").unionAll(mp)
              .groupBy($"u", $"v").agg(min($"dd").as("dd")).persist()
          }
          val d8 = double(double(double(d1)))
          d8.groupBy($"u".as("node"))
            .agg(count(lit(1)).as("n_reached"),
              expr("sum(1000000 div dd)").as("harmonic_micro"))
      }
    }, Some(AnalyticsQueries.closenessOracleSql)),
  )

  /** q323's oracle, parameterized by the scale-adaptive node count. */
  private[operators] def linkPredOracleSql(nn: Long): String = s"""
      WITH ed AS (
        SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM (
          SELECT
            (${DedupQueries.hvDuckOf("'e' || CAST(doc_id AS VARCHAR)")}) % $nn
              AS x,
            (${DedupQueries.hvDuckOf("'f' || CAST(doc_id AS VARCHAR)")}) % $nn
              AS y
          FROM documents)
        WHERE x <> y),
      adj AS (SELECT a AS c, b AS x FROM ed UNION ALL SELECT b, a FROM ed),
      deg AS (SELECT c, count(*) AS deg FROM adj GROUP BY 1),
      aok AS (SELECT adj.c, adj.x FROM adj JOIN deg USING (c)
              WHERE deg <= 20),
      com AS (
        SELECT l.x AS xa, r.x AS xb, count(*) AS cn
        FROM aok l JOIN aok r ON r.c = l.c AND l.x < r.x
        GROUP BY 1, 2),
      open_p AS (
        SELECT com.xa, com.xb, com.cn, da.deg AS da, db.deg AS db
        FROM com
        LEFT JOIN ed ON ed.a = com.xa AND ed.b = com.xb
        JOIN deg da ON da.c = com.xa
        JOIN deg db ON db.c = com.xb
        WHERE ed.a IS NULL)
      SELECT xa AS node_a, xb AS node_b, CAST(cn AS BIGINT) AS cn,
        CAST((cn * 1000000) // (da + db - cn) AS BIGINT) AS jaccard_ppm
      FROM open_p
      ORDER BY jaccard_ppm DESC, node_a ASC, node_b ASC
      LIMIT 10"""

  /** q162's interval build, shared with its as-of probe q167: per-user
    * last-observed daily value collapsed into [valid_from, valid_to)
    * change intervals (floor-milli value; open interval closes at
    * 9999-12-31). */
  private def scd2Intervals(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val wD = Window.partitionBy($"user_id", $"day")
      .orderBy($"ts".desc, $"event_id".desc)
    val daily = t(s, d, "events")
      .select($"user_id", date_format(to_date($"ts"), "yyyy-MM-dd").as("day"),
        $"ts", $"event_id", floor($"value" * 1000).cast("long").as("vm"))
      .withColumn("rn", row_number().over(wD)).filter($"rn" === 1)
      .select($"user_id", $"day", $"vm")
    val wU = Window.partitionBy($"user_id").orderBy($"day".asc)
    daily
      .withColumn("pv", lag($"vm", 1).over(wU))
      .filter($"pv".isNull || $"vm" =!= $"pv")
      .withColumn("valid_to",
        coalesce(lead($"day", 1).over(wU), lit("9999-12-31")))
      .select($"user_id", $"day".as("valid_from"), $"valid_to", $"vm")
  }

  /** q254's 31 day-offset decay weights floor(2^20 · 2^(−o/7)),
    * o = 0..30 — precomputed once so BOTH engines consume identical
    * integer literals (no runtime pow() rounding to diverge;
    * ndcgDiscMicro convention). */
  private[operators] val decayQ20: Seq[Long] = (0 to 30).map(o =>
    math.floor(1048576.0 * math.pow(2.0, -o / 7.0)).toLong)

  /** q289's EWMA smoothing weights floor(2^20 · (3/4)^k), k = 0..31 —
    * exact binary rationals (3^k · 2^20 >> 2k) computed in BigInt so
    * no float pow() appears; both engines consume the identical
    * integer literals. */
  private[operators] val ewmaQ20: Seq[Long] = (0 to 31).map(k =>
    ((BigInt(3).pow(k) * BigInt(2).pow(20)) >> (2 * k)).toLong)

  /** q297's exponential decile quantile constants
    * floor(−ln(1 − k/10) · 1e6) for k = 1..9 — precomputed once so
    * both engines consume identical integer literals (normalDecileZMicro
    * convention; no runtime ln() in the constant path). */
  private[operators] val expQMicro: Seq[Long] = (1 to 9).map(k =>
    math.floor(-math.log(1.0 - k / 10.0) * 1e6).toLong)

  /** q355's min-plus doubling oracle: three unrolled doublings bound
    * every reported distance by 8 hops — the HORIZON IS THE CONSTRUCTION
    * (1 → 2 → 4 → 8), not a filter, so both engines agree exactly. */
  private[operators] def closenessOracleSql: String = s"""
      WITH ed AS (
        SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM (
          SELECT
            (${DedupQueries.hvDuckOf("'a' || CAST(doc_id AS VARCHAR)")}) % 64
              AS x,
            (${DedupQueries.hvDuckOf("'b' || CAST(doc_id AS VARCHAR)")}) % 64
              AS y
          FROM documents)
        WHERE x <> y),
      d1 AS (SELECT a AS u, b AS v, 1 AS d FROM ed
             UNION ALL SELECT b, a, 1 FROM ed),
      d2 AS (SELECT u, v, min(d) AS d FROM (
               SELECT u, v, d FROM d1
               UNION ALL
               SELECT p.u, q.v, p.d + q.d FROM d1 p JOIN d1 q ON p.v = q.u
               WHERE p.u <> q.v) GROUP BY 1, 2),
      d4 AS (SELECT u, v, min(d) AS d FROM (
               SELECT u, v, d FROM d2
               UNION ALL
               SELECT p.u, q.v, p.d + q.d FROM d2 p JOIN d2 q ON p.v = q.u
               WHERE p.u <> q.v) GROUP BY 1, 2),
      d8 AS (SELECT u, v, min(d) AS d FROM (
               SELECT u, v, d FROM d4
               UNION ALL
               SELECT p.u, q.v, p.d + q.d FROM d4 p JOIN d4 q ON p.v = q.u
               WHERE p.u <> q.v) GROUP BY 1, 2)
      SELECT u AS node, CAST(count(*) AS BIGINT) AS n_reached,
        CAST(sum(1000000 // d) AS BIGINT) AS harmonic_micro
      FROM d8 GROUP BY 1"""

  /** q352's support threshold from the live corpus count: expected
    * support on the fixed 128-node registry graph is ~(1-e^(-n/8128))^2
    * x 126; the peel cut sits at 90% of it (>= 1). Both engines consume
    * the identical precomputed integer (oracleDyn convention). */
  private[operators] def ktrussK(n: Long): Long = {
    val pp = 1.0 - math.exp(-n / 8128.0)
    math.max(1L, math.floor(126.0 * pp * pp * 0.9).toLong)
  }

  /** q352's fixed-round k-truss oracle at threshold kk. */
  private[operators] def ktrussOracleSql(kk: Long): String = s"""
      WITH ed AS (
        SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM (
          SELECT
            (${DedupQueries.hvDuckOf("'a' || CAST(doc_id AS VARCHAR)")}) % 128
              AS x,
            (${DedupQueries.hvDuckOf("'b' || CAST(doc_id AS VARCHAR)")}) % 128
              AS y
          FROM documents)
        WHERE x <> y),
      t1 AS (SELECT p.a AS x, p.b AS y, q.b AS z
             FROM ed p JOIN ed q ON p.a = q.a AND p.b < q.b
             JOIN ed r ON r.a = p.b AND r.b = q.b),
      s1 AS (SELECT a, b, count(*) AS sup FROM (
               SELECT x AS a, y AS b FROM t1
               UNION ALL SELECT x, z FROM t1
               UNION ALL SELECT y, z FROM t1) GROUP BY 1, 2),
      e1 AS (SELECT a, b, sup FROM s1 WHERE sup >= $kk),
      t2 AS (SELECT p.a AS x, p.b AS y, q.b AS z
             FROM e1 p JOIN e1 q ON p.a = q.a AND p.b < q.b
             JOIN e1 r ON r.a = p.b AND r.b = q.b),
      s2 AS (SELECT a, b, count(*) AS sup FROM (
               SELECT x AS a, y AS b FROM t2
               UNION ALL SELECT x, z FROM t2
               UNION ALL SELECT y, z FROM t2) GROUP BY 1, 2),
      e2 AS (SELECT a, b, sup FROM s2 WHERE sup >= $kk),
      t3 AS (SELECT p.a AS x, p.b AS y, q.b AS z
             FROM e2 p JOIN e2 q ON p.a = q.a AND p.b < q.b
             JOIN e2 r ON r.a = p.b AND r.b = q.b),
      s3 AS (SELECT a, b, count(*) AS sup FROM (
               SELECT x AS a, y AS b FROM t3
               UNION ALL SELECT x, z FROM t3
               UNION ALL SELECT y, z FROM t3) GROUP BY 1, 2),
      e3 AS (SELECT a, b, sup FROM s3 WHERE sup >= $kk)
      SELECT CAST(1 AS BIGINT) AS round,
        CAST(count(*) AS BIGINT) AS edges_alive,
        CAST(coalesce(min(sup), 0) AS BIGINT) AS min_sup,
        CAST(coalesce(max(sup), 0) AS BIGINT) AS max_sup FROM e1
      UNION ALL
      SELECT 2, count(*), coalesce(min(sup), 0), coalesce(max(sup), 0) FROM e2
      UNION ALL
      SELECT 3, count(*), coalesce(min(sup), 0), coalesce(max(sup), 0) FROM e3"""

}
