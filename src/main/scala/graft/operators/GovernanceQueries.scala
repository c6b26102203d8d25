package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.{Q, QueryModule, Stats}
import graft.catalog.Tables.t

/** Round-11 data-governance operators (SURVEY.md §2.12 X121-X123): the
  * release-side audits a corpus owner runs before training or shipping
  * a dataset — PII exposure, stable global sample ids, and
  * leakage-aware cross-validation folds.
  *
  * Exactness scheme follows the catalog conventions: integer
  * permille/ppm floor-quantization on non-negative values (Spark `div`
  * ≡ DuckDB `//`), the shared overflow-safe hashMix for every seeded
  * assignment, and the positional-md5 hv32 for string-keyed hashing so
  * DuckDB replays the exact same arithmetic.
  */
object GovernanceQueries extends QueryModule {


  /** Java-regex == RE2 PII patterns: every construct used (literal
    * classes, bounded/unbounded greedy repetition, ASCII `\b`, `\d`) has
    * identical match semantics in Spark's Java regex and DuckDB's RE2,
    * so counts and global replacements agree engine-for-engine. No
    * backreferences or lookarounds (RE2 has neither). */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val idRunRe = "\\d{9,}"

  def qs: Seq[Q] = Seq(

    // PII-exposure audit: per source, how many documents contain
    // email-, IPv4-, or long-id-shaped spans, how many matches of each
    // class, and how many characters a redaction pass would remove —
    // the release gate run before any corpus leaves the pipeline. The
    // synthetic corpus carries no organic PII, so the operator plants
    // deterministic spans first (doc_id-keyed, like q144's synthetic
    // re-crawl) and then audits them — the audit itself never looks at
    // doc_id, only at text. Scale shape: row-local regexp counts and
    // replacements (codegen'd, linear in bytes scanned) + ONE
    // map-side-combined agg to a registry-sized frame; zero joins,
    // zero windows, nothing broadcast.
    Q("q151_pii_audit", (s, d) => {
      import s.implicits._
      val aug = when($"doc_id" % 17 === 3,
          concat($"text", lit(" contact user"), $"doc_id".cast("string"),
            lit("@example.com")))
        .when($"doc_id" % 23 === 5,
          concat($"text", lit(" from 10."), ($"doc_id" % 256).cast("string"),
            lit(".0."), ($"doc_id" * 3 % 256).cast("string")))
        .when($"doc_id" % 29 === 11,
          concat($"text", lit(" ref "),
            ($"doc_id" + 4100000000L).cast("string")))
        .otherwise($"text")
      val redacted = regexp_replace(
        regexp_replace(regexp_replace(col("txt"), emailRe, ""), ipv4Re, ""),
        idRunRe, "")
      t(s, d, "documents")
        .select($"source", aug.as("txt"))
        .select($"source",
          regexp_count($"txt", lit(emailRe)).cast("long").as("ne"),
          regexp_count($"txt", lit(ipv4Re)).cast("long").as("ni"),
          regexp_count($"txt", lit(idRunRe)).cast("long").as("nd"),
          (length($"txt") - length(redacted)).cast("long").as("cut"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"ne" + $"ni" + $"nd" > 0, 1L).otherwise(0L))
            .as("docs_with_pii"),
          sum($"ne").as("n_emails"), sum($"ni").as("n_ips"),
          sum($"nd").as("n_idruns"), sum($"cut").as("chars_redacted"))
        .select($"source", $"n_docs", $"docs_with_pii",
          expr("(docs_with_pii * 1000) div n_docs").as("pii_permille"),
          $"n_emails", $"n_ips", $"n_idruns", $"chars_redacted")
    }, Some(s"""
      WITH a AS (
        SELECT source,
          CASE WHEN doc_id % 17 = 3 THEN text || ' contact user'
                 || CAST(doc_id AS VARCHAR) || '@example.com'
               WHEN doc_id % 23 = 5 THEN text || ' from 10.'
                 || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                 || CAST((doc_id * 3) % 256 AS VARCHAR)
               WHEN doc_id % 29 = 11 THEN text || ' ref '
                 || CAST(doc_id + 4100000000 AS VARCHAR)
               ELSE text END AS txt
        FROM documents),
      c AS (SELECT source,
        CAST(len(regexp_extract_all(txt, '$emailRe')) AS BIGINT) AS ne,
        CAST(len(regexp_extract_all(txt, '$ipv4Re')) AS BIGINT) AS ni,
        CAST(len(regexp_extract_all(txt, '$idRunRe')) AS BIGINT) AS nd,
        CAST(length(txt) - length(regexp_replace(regexp_replace(
          regexp_replace(txt, '$emailRe', '', 'g'), '$ipv4Re', '', 'g'),
          '$idRunRe', '', 'g')) AS BIGINT) AS cut
        FROM a)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN ne + ni + nd > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS docs_with_pii,
        CAST(sum(CASE WHEN ne + ni + nd > 0 THEN 1 ELSE 0 END) * 1000
               // count(*) AS BIGINT) AS pii_permille,
        CAST(sum(ne) AS BIGINT) AS n_emails,
        CAST(sum(ni) AS BIGINT) AS n_ips,
        CAST(sum(nd) AS BIGINT) AS n_idruns,
        CAST(sum(cut) AS BIGINT) AS chars_redacted
      FROM c GROUP BY 1""")),

    // stable dense global ids (distributed zipWithIndex): assign the
    // contiguous ids 1..n in (source, doc_id) order WITHOUT a
    // single-partition global window — the id assignment behind
    // training-order manifests and resumable shard offsets. Plan:
    // range-repartition orders partitions globally; a one-row-PER-
    // PARTITION count frame (#partitions rows — a deployment knob,
    // never corpus-proportional) turns into start offsets via a
    // cumulative window over that tiny frame; the offsets broadcast
    // back onto the data and id = offset + row_number within the
    // partition id. The per-pid window is bounded by the range
    // partition's size — the same partition byte budget every shuffle
    // in the engine is sized by — so no corpus-wide sort ever
    // materializes. Both references to the range exchange live in ONE
    // plan, so Catalyst's ReusedExchange guarantees the offsets branch
    // and the assignment branch see the SAME materialized partitioning
    // (no cache, no recompute-determinism caveat, fully lazy — an
    // earlier two-job mapPartitions draft was 5x slower warm and
    // needed exactly that caveat). Verification emits per-source
    // n/min/max plus an order-independent bit_xor checksum —
    // overflow-free at any corpus size (an id SUM would wrap int64
    // past ~4e9 docs) — and DuckDB replays it against a true global
    // ROW_NUMBER, so every id is pinned exactly.
    Q("q152_dense_ids", (s, d) => {
      import s.implicits._
      val rp = t(s, d, "documents").select($"source", $"doc_id")
        .repartitionByRange(32, $"source", $"doc_id")
        .withColumn("pid", spark_partition_id())
      val wOff = Window.orderBy($"pid")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = rp.groupBy($"pid").agg(count(lit(1)).as("k"))
        .withColumn("off", coalesce(sum($"k").over(wOff), lit(0L)))
        .select($"pid", $"off")
      val wIn = Window.partitionBy($"pid").orderBy($"source", $"doc_id")
      rp.join(broadcast(offs), "pid")
        .withColumn("dense_id", $"off" + row_number().over(wIn))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), min($"dense_id").as("min_id"),
          max($"dense_id").as("max_id"),
          expr("bit_xor(dense_id)").as("xor_id"))
    }, Some("""
      WITH r AS (
        SELECT source, row_number() OVER (ORDER BY source, doc_id) AS id
        FROM documents)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(min(id) AS BIGINT) AS min_id, CAST(max(id) AS BIGINT) AS max_id,
        CAST(bit_xor(id) AS BIGINT) AS xor_id
      FROM r GROUP BY 1""")),

    // leakage-aware GROUP k-fold assignment: folds are a pure hash of
    // the 10-token lead fingerprint (q134's mirror/boilerplate group
    // key), so every near-identical-lead clone lands in the SAME fold
    // and cross-validation never grades a model on its own training
    // near-duplicates — the structural fix for what q131 only measures.
    // Reports per fold: group count, doc count, token share (ppm) —
    // plus the groups_multi_fold gate computed honestly from the data
    // (an agg over groups counting distinct folds; must be 0 — and is,
    // structurally, because fold is a function of the group key).
    // Scale shape: lead fp + fold are row-local; ONE (fp, fold)
    // map-side-combined agg (corpus-keyed shuffle agg, never
    // broadcast); everything after is 5-row arithmetic; the two
    // broadcasts are 1-row scalar aggs.
    Q("q153_group_folds", (s, d) => {
      import s.implicits._
      val grouped = t(s, d, "documents")
        .select(md5(array_join(slice(TextOps.tokens($"text"), 1, 10), " "))
            .as("__fp"),
          TextOps.tokenCount($"text").cast("long").as("n_toks"))
        .withColumn("hv", expr(s"(${DedupOps.hv32FromHexSql("__fp")})"))
        .withColumn("fold", CorpusOps.hashMix($"hv", 5L))
        .groupBy($"__fp", $"fold")
        .agg(count(lit(1)).as("nd"), sum($"n_toks").as("toks"))
      val byFold = grouped.groupBy($"fold")
        .agg(count(lit(1)).as("n_groups"), sum($"nd").as("n_docs"),
          sum($"toks").as("toks"))
      val leak = grouped.groupBy($"__fp")
        .agg(count_distinct($"fold").as("nf"))
        .agg(sum(when($"nf" > 1, 1L).otherwise(0L)).as("groups_multi_fold"))
      val tot = byFold.agg(sum($"toks").as("tt"))
      byFold.crossJoin(broadcast(tot)).crossJoin(broadcast(leak))
        .select($"fold", $"n_groups", $"n_docs",
          expr("(toks * 1000000) div tt").as("share_ppm"),
          $"groups_multi_fold")
    }, Some(s"""
      WITH g AS (
        SELECT array_to_string(
                 list_slice(string_split_regex(trim(text), '\\s+'), 1, 10),
                 ' ') AS ld,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                 AS n_toks
        FROM documents),
      h AS (SELECT md5(ld) AS fp, n_toks,
              (((((${DedupQueries.hvDuckOf("ld")}) % 1000003 + 1000003)
                  % 1000003 * 2654435761 + 40503) % 5) + 5) % 5 AS fold
            FROM g),
      grp AS (SELECT fp, fold, count(*) AS nd, sum(n_toks) AS toks
              FROM h GROUP BY 1, 2),
      bf AS (SELECT fold, count(*) AS n_groups, sum(nd) AS n_docs,
               sum(toks) AS toks
             FROM grp GROUP BY 1),
      lk AS (SELECT sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END)
               AS groups_multi_fold
             FROM (SELECT fp, count(DISTINCT fold) AS nf FROM grp
                   GROUP BY 1)),
      tt AS (SELECT sum(toks) AS t FROM bf)
      SELECT CAST(fold AS BIGINT) AS fold,
        CAST(n_groups AS BIGINT) AS n_groups,
        CAST(n_docs AS BIGINT) AS n_docs,
        CAST(toks * 1000000 // tt.t AS BIGINT) AS share_ppm,
        CAST(lk.groups_multi_fold AS BIGINT) AS groups_multi_fold
      FROM bf CROSS JOIN tt CROSS JOIN lk""")),

    // train/val embedding centroid drift: after the q84-style hash
    // split, how far apart do each label's train and validation mean
    // directions sit? cos ~ 1 means the split preserved the label's
    // embedding geometry; a low cosine flags a label whose val slice
    // is not representative (clustered duplicates, temporal drift) —
    // checked BEFORE trusting per-label val metrics. Exactness: q118's
    // milli-quantized integer accumulation per (label, split, dim)
    // (order-independent sums, ONE double division per component),
    // then the q37/q135 row-local index-ascending cosine rounded to 6.
    // Scale shape: one (label, split, dim) agg with map-side combine;
    // everything after is model-sized (labels x 2 x dims); no
    // broadcast, no windows.
    Q("q157_centroid_drift", (s, d) => {
      import s.implicits._
      val cent = t(s, d, "embeddings")
        .select($"label".cast("long").as("label"),
          (CorpusOps.hashMix($"vec_id", 1000L) < 900).as("is_train"),
          posexplode($"embedding".cast("array<double>"))
            .as(Seq("i", "comp")))
        .groupBy($"label", $"is_train", $"i")
        .agg(sum(floor($"comp" * 1000).cast("long")).as("sm"),
          count(lit(1)).as("n"))
        .select($"label", $"is_train", $"i", $"n",
          ($"sm".cast("double") / ($"n" * 1000).cast("double")).as("cv"))
        .groupBy($"label", $"is_train")
        .agg(max($"n").as("n_vecs"),
          array_sort(collect_list(struct($"i", $"cv"))).as("cs"))
        .select($"label", $"is_train", $"n_vecs",
          expr("transform(cs, x -> x.cv)").as("c"))
      val tr = cent.filter($"is_train")
        .select($"label", $"n_vecs".as("n_train"), $"c".as("ct"))
      val va = cent.filter(!$"is_train")
        .select($"label", $"n_vecs".as("n_val"), $"c".as("cv"))
      tr.join(va, "label")
        .select($"label", $"n_train", $"n_val",
          round(call_function("dot_product", $"ct", $"cv") /
            (sqrt(call_function("dot_product", $"ct", $"ct")) *
             sqrt(call_function("dot_product", $"cv", $"cv"))), 6)
            .as("cos_r"))
    }, Some("""
      WITH sp AS (
        SELECT CAST(label AS BIGINT) AS label,
          ((((vec_id % 1000003) + 1000003) % 1000003 * 2654435761 + 40503)
             % 1000 + 1000) % 1000 < 900 AS is_train,
          CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings),
      comp AS (SELECT label, is_train,
                 generate_subscripts(e, 1) - 1 AS i, unnest(e) AS comp
               FROM sp),
      cm AS (SELECT label, is_train, i, count(*) AS n,
               CAST(sum(CAST(floor(comp * 1000) AS BIGINT)) AS DOUBLE)
                 / CAST(count(*) * 1000 AS DOUBLE) AS cv
             FROM comp GROUP BY 1, 2, 3),
      cent AS (SELECT label, is_train, max(n) AS n_vecs,
                 list(cv ORDER BY i) AS c
               FROM cm GROUP BY 1, 2),
      tr AS (SELECT label, n_vecs AS n_train, c AS ct FROM cent
             WHERE is_train),
      va AS (SELECT label, n_vecs AS n_val, c AS cv FROM cent
             WHERE NOT is_train)
      SELECT label, CAST(n_train AS BIGINT) AS n_train,
        CAST(n_val AS BIGINT) AS n_val,
        round(
          list_sum(list_transform(range(1, 65), i -> ct[i] * cv[i])) /
          (sqrt(list_sum(list_transform(range(1, 65), i -> ct[i] * ct[i]))) *
           sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))),
          6) AS cos_r
      FROM tr JOIN va USING (label)""")),

    // per-source dataset datasheet (the "datasets card" numbers a
    // release ships with, in ONE pass over the corpus): doc and token
    // counts, vocabulary size, exact-duplicate permille (fingerprint
    // collisions), mean quality (milli, integer), and the dominant
    // language with its share — the summary every downstream consumer
    // reads before deciding whether to mix the source in. Scale
    // shape: three map-side-combined aggs (doc-level stats with a
    // single-column distinct, the vocabulary distinct, the
    // (source, lang) registry) joined on the source registry; the
    // dominant-language window runs over the registry-sized lang
    // frame; quality mean is integer (sum of floor-milli div n), so
    // no float aggregation order surfaces.
    Q("q160_source_datasheet", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val base = docs.select($"source", $"lang",
        TextOps.tokenCount($"text").cast("long").as("ntok"),
        TextOps.fingerprint($"text").as("fp"),
        floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("qm"))
      val agg1 = base.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("n_tokens"),
          count_distinct($"fp").as("n_fps"), sum($"qm").as("sq"))
      val vocab = docs
        .select($"source", explode(TextOps.tokens($"text")).as("tok"))
        .distinct()
        .groupBy($"source").agg(count(lit(1)).as("vocab"))
      val wL = Window.partitionBy($"source")
        .orderBy($"lc".desc, $"lang".asc)
      val top = base.groupBy($"source", $"lang").agg(count(lit(1)).as("lc"))
        .withColumn("rn", row_number().over(wL)).filter($"rn" === 1)
        .select($"source", $"lang".as("top_lang"), $"lc")
      agg1.join(vocab, "source").join(top, "source")
        .select($"source", $"n_docs", $"n_tokens", $"vocab",
          expr("((n_docs - n_fps) * 1000) div n_docs").as("dup_permille"),
          expr("sq div n_docs").as("quality_mean_milli"),
          $"top_lang",
          expr("(lc * 1000) div n_docs").as("top_lang_permille"))
    }, Some("""
      WITH base AS (
        SELECT source, lang,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ntok,
          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
          CAST(floor((
            least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0)
              * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0
              / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b'))
              / 10.0) * 0.2) * 1000) AS BIGINT) AS qm
        FROM documents),
      a1 AS (SELECT source, count(*) AS n_docs, sum(ntok) AS n_tokens,
               count(DISTINCT fp) AS n_fps, sum(qm) AS sq
             FROM base GROUP BY 1),
      vb AS (SELECT source, count(*) AS vocab FROM (
               SELECT DISTINCT source,
                 unnest(string_split_regex(trim(text), '\s+')) AS tok
               FROM documents) GROUP BY 1),
      tl AS (SELECT source, lang AS top_lang, lc FROM (
               SELECT source, lang, count(*) AS lc,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY count(*) DESC, lang ASC) AS rn
               FROM base GROUP BY source, lang) WHERE rn = 1)
      SELECT a1.source, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(n_tokens AS BIGINT) AS n_tokens, CAST(vocab AS BIGINT) AS vocab,
        CAST((n_docs - n_fps) * 1000 // n_docs AS BIGINT) AS dup_permille,
        CAST(sq // n_docs AS BIGINT) AS quality_mean_milli,
        top_lang,
        CAST(lc * 1000 // n_docs AS BIGINT) AS top_lang_permille
      FROM a1 JOIN vb USING (source) JOIN tl USING (source)""")),

    // rank-biased overlap between two selection rankings (RBO, p=0.9,
    // depth 100): when the quality metric changes (v1 -> v2), how much
    // does the actual top-100 SELECTION change? RBO weights agreement
    // at the head far more than the tail — the number that says
    // whether a "small metric tweak" silently re-picks the corpus.
    // Exactness: the geometric weights (1-p)p^(d-1) are precomputed in
    // Scala, nano-floor-quantized, and embedded as THE SAME literal
    // list in both engines (no cross-engine pow()); each depth's term
    // floors before the sum. Scale shape: both rankings ride the
    // bucketed-prefilter + rank<=100 pattern (TopKPerKeyExec — the
    // global sort never sees the corpus); everything after is <= 100
    // rows.
    Q("q165_rbo_rankings", (s, d) => {
      import s.implicits._
      val wNano = (1 to 100).map(dd =>
        math.floor(0.1 * math.pow(0.9, dd - 1) * 1e9).toLong)
      val ntokD = TextOps.tokenCount($"text").cast("double")
      val alpha = length(regexp_replace($"text", "[^a-z]", "")).cast("double")
      val stop = size(regexp_extract_all($"text",
        lit("\\b(the|a|of|and|to)\\b"), lit(0))).cast("double")
      val v2 = least(lit(1.0), ntokD / 100.0) * 0.3 +
        (alpha / length($"text")) * 0.3 + least(lit(1.0), stop / 5.0) * 0.4
      val b = t(s, d, "documents").select($"doc_id",
        floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("qm"),
        floor(v2 * 1000).cast("long").as("qm2"))
      def top100(ord: Seq[org.apache.spark.sql.Column], out: String) = {
        val wB = Window.partitionBy(pmod(hash($"doc_id"), lit(64)))
          .orderBy(ord: _*)
        val wG = Window.orderBy(ord: _*)
        b.withColumn("__brk", row_number().over(wB)).filter($"__brk" <= 100)
          .withColumn("__rk", row_number().over(wG)).filter($"__rk" <= 100)
          .select($"doc_id", $"__rk".cast("long").as(out))
      }
      val ra = top100(Seq($"qm".desc, $"doc_id".asc), "ra")
      val rb = top100(Seq($"qm2".desc, $"doc_id".asc), "rb")
      val mc = ra.join(rb, "doc_id")
        .select(greatest($"ra", $"rb").as("m"))
        .groupBy($"m").agg(count(lit(1)).as("c"))
      val wCum = Window.orderBy($"dd".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s.range(1, 101).toDF("dd")
        .join(mc, $"dd" === $"m", "left_outer")
        .withColumn("w",
          element_at(array(wNano.map(lit(_)): _*), $"dd".cast("int")))
        .withColumn("cum", sum(coalesce($"c", lit(0L))).over(wCum))
        .agg(lit(100L).as("k"),
          coalesce(max($"cum"), lit(0L)).as("n_common"),
          sum(expr("(w * cum) div dd")).as("rbo_nano"))
    }, Some {
      val wLit = (1 to 100).map(dd =>
        math.floor(0.1 * math.pow(0.9, dd - 1) * 1e9).toLong)
        .mkString("[", ", ", "]")
      """
      WITH b AS (
        SELECT doc_id,
          CAST(floor((
            least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0)
              * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0
              / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b'))
              / 10.0) * 0.2) * 1000) AS BIGINT) AS qm,
          CAST(floor((
            least(1.0, len(string_split_regex(trim(text), '\s+')) / 100.0)
              * 0.3 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0
              / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b'))
              / 5.0) * 0.4) * 1000) AS BIGINT) AS qm2
        FROM documents),
      ra AS (SELECT doc_id,
               row_number() OVER (ORDER BY qm DESC, doc_id ASC) AS ra
             FROM b QUALIFY ra <= 100),
      rb AS (SELECT doc_id,
               row_number() OVER (ORDER BY qm2 DESC, doc_id ASC) AS rb
             FROM b QUALIFY rb <= 100),
      mm AS (SELECT greatest(ra.ra, rb.rb) AS m
             FROM ra JOIN rb USING (doc_id)),
      mc AS (SELECT m, count(*) AS c FROM mm GROUP BY 1),
      g AS (SELECT r.d AS dd, (__W__)[CAST(r.d AS INT)] AS w,
              coalesce(mc.c, 0) AS c
            FROM range(1, 101) r(d) LEFT JOIN mc ON mc.m = r.d),
      cm AS (SELECT dd, w,
               sum(c) OVER (ORDER BY dd ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
             FROM g)
      SELECT CAST(100 AS BIGINT) AS k,
        CAST(coalesce(max(cum), 0) AS BIGINT) AS n_common,
        CAST(sum((w * cum) // dd) AS BIGINT) AS rbo_nano
      FROM cm""".replace("__W__", wLit)
    }),

    // token-budget apportionment (largest-remainder / Hamilton method):
    // divide a fixed 1M-token training budget across languages exactly
    // proportionally to their token mass — floors first, then the
    // leftover units go to the largest remainders (deterministic
    // (remainder, lang) tiebreak). The allocations sum to EXACTLY the
    // budget (spec-pinned) — what q72's float mixture weights can't
    // promise. Scale shape: corpus touched by ONE map-side-combined
    // registry agg; everything after is registry-sized arithmetic;
    // the two broadcasts are 1-row scalars; int64-safe while
    // budget * corpus tokens < 2^63 (DECIMAL upgrade documented past
    // ~9e12 tokens).
    Q("q166_budget_apportion", (s, d) => {
      import s.implicits._
      val cells = t(s, d, "documents")
        .select($"lang", TextOps.tokenCount($"text").cast("long").as("ntok"))
        .groupBy($"lang").agg(sum($"ntok").as("toks"))
      val tot = cells.agg(sum($"toks").as("tt"))
      val base = cells.crossJoin(broadcast(tot))
        .select($"lang", $"toks",
          expr("(1000000 * toks) div tt").as("quota"),
          expr("(1000000 * toks) % tt").as("rem"))
      val left = base.agg((lit(1000000L) - sum($"quota")).as("r"))
      val wR = Window.orderBy($"rem".desc, $"lang".asc)
      base.crossJoin(broadcast(left))
        .withColumn("rk", row_number().over(wR).cast("long"))
        .select($"lang", $"toks", $"quota",
          when($"rk" <= $"r", 1L).otherwise(0L).as("extra"),
          ($"quota" + when($"rk" <= $"r", 1L).otherwise(0L))
            .as("final_quota"))
    }, Some("""
      WITH cells AS (
        SELECT lang,
          sum(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT))
            AS toks
        FROM documents GROUP BY 1),
      tt AS (SELECT sum(toks) AS t FROM cells),
      base AS (SELECT lang, toks, (1000000 * toks) // tt.t AS quota,
                 (1000000 * toks) % tt.t AS rem
               FROM cells CROSS JOIN tt),
      lf AS (SELECT 1000000 - sum(quota) AS r FROM base),
      rk AS (SELECT base.*, lf.r,
               row_number() OVER (ORDER BY rem DESC, lang ASC) AS rk
             FROM base CROSS JOIN lf)
      SELECT lang, CAST(toks AS BIGINT) AS toks,
        CAST(quota AS BIGINT) AS quota,
        CAST(CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT) AS extra,
        CAST(quota + CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT)
          AS final_quota
      FROM rk"""))
      ,

    // Seeded noisy-count release (q146's statistical sibling): per
    // (lang, source) doc counts released through a deterministic
    // two-sided geometric noise mechanism + a k>=5 suppression gate —
    // the disclosure-avoidance shape (noise THEN threshold) of a DP
    // release, with the noise drawn from the group key's md5 so the
    // release is reproducible and ORACLE-CHECKABLE (true randomness
    // can't be cross-engine verified; the mechanism's plumbing is what
    // this operator pins). Geometric(1/2) magnitude via integer
    // threshold comparisons on a 20-bit uniform (no cross-engine
    // float log), sign from bit 20, clamp at 0, suppress noisy < 5.
    // Scale shape: ONE map-side-combined registry agg; everything
    // after is registry-sized row-local arithmetic.
    Q("q175_noisy_release", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .groupBy($"lang", $"source").agg(count(lit(1)).as("n"))
        .withColumn("__hx", md5(concat($"lang", lit("|"), $"source")))
        .withColumn("hv", expr(DedupOps.hv32FromHexSql("__hx")))
        .withColumn("u20", $"hv" % 1048576L)
        .withColumn("mag",
          when($"u20" < 524288L, 0L).when($"u20" < 786432L, 1L)
            .when($"u20" < 917504L, 2L).when($"u20" < 983040L, 3L)
            .when($"u20" < 1015808L, 4L).otherwise(5L))
        .withColumn("noise",
          when(expr("(hv div 1048576) % 2") === 1L, $"mag")
            .otherwise(-$"mag"))
        .withColumn("noisy", greatest($"n" + $"noise", lit(0L)))
        .select($"lang", $"source", $"n", $"noise", $"noisy",
          ($"noisy" >= 5L).as("released"))
    }, Some(s"""
      WITH g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
                 FROM documents GROUP BY 1, 2),
      h AS (SELECT lang, source, n,
              CAST(${DedupQueries.hvDuckOf("lang || '|' || source")}
                   AS BIGINT) AS hv
            FROM g),
      m AS (SELECT lang, source, n, hv, hv % 1048576 AS u20,
              CASE WHEN hv % 1048576 < 524288 THEN 0
                   WHEN hv % 1048576 < 786432 THEN 1
                   WHEN hv % 1048576 < 917504 THEN 2
                   WHEN hv % 1048576 < 983040 THEN 3
                   WHEN hv % 1048576 < 1015808 THEN 4
                   ELSE 5 END AS mag
            FROM h),
      z AS (SELECT lang, source, n,
              CAST(CASE WHEN (hv // 1048576) % 2 = 1 THEN mag
                   ELSE -mag END AS BIGINT) AS noise
            FROM m)
      SELECT lang, source, n, noise,
        CAST(greatest(n + noise, 0) AS BIGINT) AS noisy,
        greatest(n + noise, 0) >= 5 AS released
      FROM z""")),

    // Calibration curve over the quality score (the reliability
    // diagram an ML-eval pass draws before trusting a learned or
    // heuristic grader): docs bucketed into score deciles; per decile
    // the mean predicted score vs the observed positive rate of a
    // score-correlated outcome (hash(doc) < qmilli — calibrated by
    // construction up to hash noise, so the gap column ISOLATES the
    // mechanism: any systematic gap is a pipeline bug, not data).
    // Scale shape: label and decile are row-local; ONE map-side-
    // combined 10-row agg; zero joins/windows/broadcasts; integer
    // milli/ppm arithmetic throughout.
    Q("q176_calibration_curve", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id",
          floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("qm"))
        .withColumn("label",
          when(CorpusOps.hashMix($"doc_id", 1000L) < $"qm", 1L)
            .otherwise(0L))
        .withColumn("decile", least(expr("qm div 100"), lit(9L)))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n"), sum($"qm").as("sq"),
          sum($"label").as("k"))
        .select($"decile", $"n",
          expr("sq div n").as("mean_pred_milli"),
          expr("(k * 1000000) div n").as("obs_ppm"),
          (expr("(k * 1000000) div n") - expr("(sq div n) * 1000"))
            .as("gap_ppm"))
    }, Some("""
      WITH q AS (
        SELECT doc_id,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS qm
        FROM documents),
      l AS (SELECT qm,
              CASE WHEN ((doc_id % 1000003) * 2654435761 + 40503) % 1000
                   < qm THEN 1 ELSE 0 END AS label,
              least(qm // 100, 9) AS decile
            FROM q)
      SELECT decile, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(qm) // count(*) AS BIGINT) AS mean_pred_milli,
        CAST((sum(label) * 1000000) // count(*) AS BIGINT) AS obs_ppm,
        CAST((sum(label) * 1000000) // count(*)
          - (sum(qm) // count(*)) * 1000 AS BIGINT) AS gap_ppm
      FROM l GROUP BY 1""")),

    // Poisson-bootstrap confidence interval for the per-source mean
    // quality (the error bar a release report should carry; the
    // statistical-rigor sibling of q174): B=32 deterministic resamples
    // — each doc's weight in resample b is Poisson(1) drawn by
    // inverse-CDF threshold comparison on a 20-bit md5(doc:b) uniform
    // (thresholds precomputed ONCE in Scala and embedded as the SAME
    // integer literals in both engines — the q165 pattern; no
    // cross-engine exp/log at query time). CI = [2nd smallest, 2nd
    // largest] of the 32 resample means (~93.75% percentile
    // bootstrap). Scale shape: the 32x row multiplication is the
    // bootstrap's stated, bounded cost and streams straight into ONE
    // map-side-combined (source, b) agg; the rank window rides the
    // 32-row-per-source means frame; integer milli means throughout.
    Q("q184_bootstrap_ci", (s, d) => {
      import s.implicits._
      // docs feeds the 32x resample explosion AND the full mean:
      // persist so the quality expression runs once per row
      val docs = t(s, d, "documents")
        .select($"doc_id", $"source",
          floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("q"))
        .persist()
      val reps = docs
        .select($"doc_id", $"source", $"q",
          explode(sequence(lit(0), lit(31))).as("b"))
        .withColumn("__hx", md5(concat($"doc_id".cast("string"), lit(":"),
          $"b".cast("string"))))
        .withColumn("u20",
          expr(s"(${DedupOps.hv32FromHexSql("__hx")}) % 1048576"))
        .withColumn("w",
          when($"u20" < poisT(0), 0L).when($"u20" < poisT(1), 1L)
            .when($"u20" < poisT(2), 2L).when($"u20" < poisT(3), 3L)
            .when($"u20" < poisT(4), 4L).otherwise(5L))
      val means = reps.groupBy($"source", $"b")
        .agg(sum($"w" * $"q").as("swq"), sum($"w").as("sw"))
        .filter($"sw" > 0)
        .select($"source", $"b", expr("swq div sw").as("mean_milli"))
      val wS = Window.partitionBy($"source")
        .orderBy($"mean_milli".asc, $"b".asc)
      val fullMean = docs.groupBy($"source")
        .agg(expr("sum(q) div count(1)").as("mean_full_milli"))
      means
        .withColumn("rk", row_number().over(wS))
        .withColumn("nb", count(lit(1)).over(Window.partitionBy($"source")))
        .groupBy($"source")
        .agg(min(when($"rk" === 2, $"mean_milli")).as("ci_lo_milli"),
          min(when($"rk" === $"nb" - 1, $"mean_milli")).as("ci_hi_milli"))
        .join(fullMean, "source")
        .select($"source", $"mean_full_milli", $"ci_lo_milli", $"ci_hi_milli")
    }, Some(s"""
      WITH q AS (
        SELECT doc_id, source,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\\b(the|a|of|and|to)\\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS q
        FROM documents),
      r AS (SELECT doc_id, source, q,
              unnest(generate_series(0, 31)) AS b FROM q),
      h AS (SELECT source, b, q,
              CAST((${DedupQueries.hvDuckOf(
                "CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)")})
                % 1048576 AS BIGINT) AS u20
            FROM r),
      w AS (SELECT source, b, q,
              CASE WHEN u20 < ${poisT(0)} THEN 0
                   WHEN u20 < ${poisT(1)} THEN 1
                   WHEN u20 < ${poisT(2)} THEN 2
                   WHEN u20 < ${poisT(3)} THEN 3
                   WHEN u20 < ${poisT(4)} THEN 4
                   ELSE 5 END AS w
            FROM h),
      m AS (SELECT source, b, CAST(sum(w * q) // sum(w) AS BIGINT)
              AS mean_milli
            FROM w GROUP BY 1, 2 HAVING sum(w) > 0),
      rk AS (SELECT source, b, mean_milli,
               row_number() OVER (PARTITION BY source
                 ORDER BY mean_milli ASC, b ASC) AS rk,
               count(*) OVER (PARTITION BY source) AS nb
             FROM m),
      ci AS (SELECT source,
               CAST(min(CASE WHEN rk = 2 THEN mean_milli END) AS BIGINT)
                 AS ci_lo_milli,
               CAST(min(CASE WHEN rk = nb - 1 THEN mean_milli END)
                 AS BIGINT) AS ci_hi_milli
             FROM rk GROUP BY 1),
      f AS (SELECT source, CAST(sum(q) // count(*) AS BIGINT)
              AS mean_full_milli
            FROM q GROUP BY 1)
      SELECT ci.source, f.mean_full_milli, ci.ci_lo_milli, ci.ci_hi_milli
      FROM ci JOIN f ON f.source = ci.source""")),

    // Column-profile report (the dbt-docs / data-catalog primitive: one
    // row per column with count, null count, exact NDV, canonical
    // min/max strings). ONE independent two-stage aggregate PER COLUMN,
    // unioned — NOT a single multi-distinct aggregate: Catalyst plans
    // n distinct legs as an Expand that multiplies every row n-fold
    // through one exchange (measured 8.9 s vs 0.6 s for this exact
    // query at sf0.1), while per-column branches each keep the
    // map-side partial-distinct shape and run in parallel. Numeric
    // columns are profiled on canonical integer forms (milli /
    // yyyy-MM-dd) so min/max strings are engine-stable.
    Q("q186_column_profile", (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem").select(
        $"l_orderkey", $"l_partkey", $"l_returnflag",
        date_format($"l_shipdate", "yyyy-MM-dd").as("ship"),
        floor($"l_quantity" * 1000).cast("long").as("qty_milli"))
      def prof(c: String) = li.select(col(c))
        .agg(count(lit(1)).as("n"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_str"),
          max(col(c)).cast("string").as("max_str"))
        .select(lit(c).as("col_name"), $"n", $"n_null", $"n_distinct",
          $"min_str", $"max_str")
      Seq("l_orderkey", "l_partkey", "l_returnflag", "ship", "qty_milli")
        .map(prof).reduce(_ unionAll _)
    }, Some("""
      WITH li AS (SELECT l_orderkey, l_partkey, l_returnflag,
                    strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS ship,
                    CAST(floor(l_quantity * 1000) AS BIGINT) AS qty_milli
                  FROM lineitem)
      SELECT 'l_orderkey' AS col_name, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_null,
        CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
        CAST(min(l_orderkey) AS VARCHAR) AS min_str,
        CAST(max(l_orderkey) AS VARCHAR) AS max_str FROM li
      UNION ALL
      SELECT 'l_partkey', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(count(DISTINCT l_partkey) AS BIGINT),
        CAST(min(l_partkey) AS VARCHAR), CAST(max(l_partkey) AS VARCHAR)
      FROM li
      UNION ALL
      SELECT 'l_returnflag', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
          AS BIGINT),
        CAST(count(DISTINCT l_returnflag) AS BIGINT),
        CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR)
      FROM li
      UNION ALL
      SELECT 'ship', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN ship IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(count(DISTINCT ship) AS BIGINT),
        CAST(min(ship) AS VARCHAR), CAST(max(ship) AS VARCHAR) FROM li
      UNION ALL
      SELECT 'qty_milli', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN qty_milli IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(count(DISTINCT qty_milli) AS BIGINT),
        CAST(min(qty_milli) AS VARCHAR), CAST(max(qty_milli) AS VARCHAR)
      FROM li""")),

    // File-pruning layout comparison (WHY sorted/range layout matters,
    // quantified — the min/max-zonemap argument behind any clustered
    // layout):
    // the same corpus assigned to files two ways (natural insertion
    // order vs value-range partitioning on the sort column), per-file
    // min/max zonemaps built, and a mid-range 10% predicate evaluated
    // against both: the report says what fraction of files each layout
    // PRUNES. Scale shape: 1-row min/max broadcast; two file-keyed
    // map-side-combined aggs; file counts are corpus/50-sized frames
    // reduced immediately to 1-row stats; integer arithmetic.
    Q("q188_file_prune_stats", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select($"doc_id", $"n_chars")
      val mm = docs.agg(min($"n_chars").as("mn"), max($"n_chars").as("mx"))
      val base = docs.join(broadcast(mm))
        .withColumn("lo", expr("mn + ((mx - mn) * 45) div 100"))
        .withColumn("hi", expr("mn + ((mx - mn) * 55) div 100"))
        .withColumn("file_nat", expr("doc_id div 50"))
        .withColumn("w", expr("(mx - mn) div 20 + 1"))
        .withColumn("file_rng", expr("(n_chars - mn) div w"))
      def layout(fileCol: String, label: String) =
        base.groupBy(col(fileCol).as("f"))
          .agg(min($"n_chars").as("fmn"), max($"n_chars").as("fmx"),
            max($"lo").as("lo"), max($"hi").as("hi"))
          .agg(count(lit(1)).as("n_files"),
            sum(when($"fmx" >= $"lo" && $"fmn" <= $"hi", 1L).otherwise(0L))
              .as("n_overlap"))
          .select(lit(label).as("layout"), $"n_files", $"n_overlap",
            expr("((n_files - n_overlap) * 1000000) div n_files")
              .as("prune_ppm"))
      layout("file_nat", "natural").unionAll(layout("file_rng", "range"))
    }, Some("""
      WITH mm AS (SELECT CAST(min(n_chars) AS BIGINT) AS mn,
                    CAST(max(n_chars) AS BIGINT) AS mx FROM documents),
      base AS (SELECT doc_id, n_chars,
                 mn + ((mx - mn) * 45) // 100 AS lo,
                 mn + ((mx - mn) * 55) // 100 AS hi,
                 doc_id // 50 AS file_nat,
                 (n_chars - mn) // ((mx - mn) // 20 + 1) AS file_rng
               FROM documents CROSS JOIN mm),
      nat AS (SELECT file_nat AS f, min(n_chars) AS fmn, max(n_chars) AS fmx,
                max(lo) AS lo, max(hi) AS hi FROM base GROUP BY 1),
      rng AS (SELECT file_rng AS f, min(n_chars) AS fmn, max(n_chars) AS fmx,
                max(lo) AS lo, max(hi) AS hi FROM base GROUP BY 1),
      a AS (SELECT 'natural' AS layout, CAST(count(*) AS BIGINT) AS n_files,
              CAST(sum(CASE WHEN fmx >= lo AND fmn <= hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap
            FROM nat
            UNION ALL
            SELECT 'range', CAST(count(*) AS BIGINT),
              CAST(sum(CASE WHEN fmx >= lo AND fmn <= hi THEN 1 ELSE 0 END)
                AS BIGINT)
            FROM rng)
      SELECT layout, n_files, n_overlap,
        ((n_files - n_overlap) * 1000000) // n_files AS prune_ppm
      FROM a""")),

    // Benford first-digit drift (the synthetic-data / fabricated-metric
    // smell test): per event_type, the leading-digit distribution of
    // the positive values vs Benford's log10(1 + 1/d) expectation, as
    // max and total absolute deviation in integer ppm. The digit is
    // extracted from the INTEGER cents string (floor(value*100), the
    // q190 quantization) — never from float log10, whose boundary
    // behavior differs across engines. Benford expectations are 9
    // integer-ppm literals. Scale shape: ONE map-side-combined
    // (type, digit) agg collapses the stream to <= 45 rows; everything
    // after (registry join to per-type totals, the 9-row literal join,
    // the per-type rollup) is registry-sized.
    Q("q194_benford_drift", (s, d) => {
      import s.implicits._
      val digits = t(s, d, "events")
        .filter($"value" > 0)
        .select($"event_type",
          substring(floor($"value" * 100).cast("long").cast("string"), 1, 1)
            .cast("long").as("dig"))
        .groupBy($"event_type", $"dig").agg(count(lit(1)).as("n"))
      val tot = digits.groupBy($"event_type").agg(sum($"n").as("nt"))
      // floor(log10(1 + 1/d) * 1e6) for d = 1..9, precomputed once on
      // the driver (constant literals, not data-dependent)
      val benford = (1 to 9).map(dd =>
        (dd.toLong, math.floor(math.log10(1.0 + 1.0 / dd) * 1e6).toLong))
      val bf = s.createDataFrame(benford).toDF("dig", "exp_ppm")
      digits.join(tot, "event_type").join(bf, "dig")
        .select($"event_type",
          expr("(n * 1000000) div nt").as("obs_ppm"), $"exp_ppm", $"nt")
        .withColumn("dev",
          when($"obs_ppm" >= $"exp_ppm", $"obs_ppm" - $"exp_ppm")
            .otherwise($"exp_ppm" - $"obs_ppm"))
        .groupBy($"event_type")
        .agg(max($"nt").as("n_events"), max($"dev").as("max_dev_ppm"),
          sum($"dev").as("total_dev_ppm"))
    }, Some(s"""
      WITH dg AS (
        SELECT event_type,
          CAST(substr(CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR),
            1, 1) AS BIGINT) AS dig,
          count(*) AS n
        FROM events WHERE value > 0 GROUP BY 1, 2),
      tt AS (SELECT event_type, sum(n) AS nt FROM dg GROUP BY 1),
      bf (dig, exp_ppm) AS (VALUES ${(1 to 9).map(dd =>
        s"($dd, ${math.floor(math.log10(1.0 + 1.0 / dd) * 1e6).toLong})")
        .mkString(", ")}),
      dv AS (
        SELECT dg.event_type, tt.nt,
          abs((dg.n * 1000000) // tt.nt - bf.exp_ppm) AS dev
        FROM dg JOIN tt USING (event_type) JOIN bf USING (dig))
      SELECT event_type, CAST(max(nt) AS BIGINT) AS n_events,
        CAST(max(dev) AS BIGINT) AS max_dev_ppm,
        CAST(sum(dev) AS BIGINT) AS total_dev_ppm
      FROM dv GROUP BY 1""")),

    // Inter-annotator agreement (Cohen's kappa, integer ppm): how much
    // two labelers agree BEYOND chance — the acceptance gate for
    // auto-labeled training data. Labelers here are two deterministic
    // length heuristics (chars >= 300 vs tokens >= 56, the corpus
    // medians) so the mechanism is oracle-checkable; per source, kappa
    // = (n*agree - pe_num) / (n^2 - pe_num) with pe_num = a1*b1 +
    // a0*b0, ALL integer (no float po/pe); negative-kappa numerators
    // divide identically in both engines (Spark `div` and DuckDB `//`
    // both truncate toward zero); chance-degenerate den=0 -> 1e6.
    // Scale shape: ONE map-side-combined source agg collapses the
    // corpus; everything after is registry-sized row-local arithmetic.
    // Overflow bound: n*agree <= n^2 — exact to ~3e9 docs/source.
    Q("q195_kappa_agreement", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"source",
          when($"n_chars" >= 300, 1L).otherwise(0L).as("a"),
          when(TextOps.tokenCount($"text") >= 56, 1L).otherwise(0L).as("b"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"a").as("a1"), sum($"b").as("b1"),
          sum(when($"a" === $"b", 1L).otherwise(0L)).as("agree"))
        .select($"source", $"n".as("n_docs"), $"a1".as("pos_len"),
          $"b1".as("pos_tok"), $"agree",
          expr("""CASE
            WHEN n * n - (a1 * b1 + (n - a1) * (n - b1)) = 0 THEN CAST(1000000 AS BIGINT)
            ELSE
              ((n * agree - (a1 * b1 + (n - a1) * (n - b1))) * 1000000)
                div (n * n - (a1 * b1 + (n - a1) * (n - b1)))
            END""").as("kappa_ppm"))
    }, Some("""
      WITH c AS (
        SELECT source,
          CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
          CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 56
            THEN 1 ELSE 0 END AS b
        FROM documents),
      g AS (
        SELECT source, count(*) AS n, sum(a) AS a1, sum(b) AS b1,
          sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree
        FROM c GROUP BY 1)
      SELECT source, CAST(n AS BIGINT) AS n_docs,
        CAST(a1 AS BIGINT) AS pos_len, CAST(b1 AS BIGINT) AS pos_tok,
        CAST(agree AS BIGINT) AS agree,
        CAST(CASE
          WHEN n * n - (a1 * b1 + (n - a1) * (n - b1)) = 0 THEN 1000000
          ELSE
            ((n * agree - (a1 * b1 + (n - a1) * (n - b1))) * 1000000)
              // (n * n - (a1 * b1 + (n - a1) * (n - b1)))
          END AS BIGINT) AS kappa_ppm
      FROM g""")),

    // Variance-weighted stratified budget allocation (Neyman-flavored
    // with S^2-mass weights so every step stays in exact integers — no
    // cross-engine sqrt): allocate a 1000-doc sample budget across
    // languages proportional to each stratum's TOTAL squared deviation
    // of n_chars (nh * variance — high-variance strata get more
    // samples), largest-remainder apportioned (q166), then pick each
    // stratum's quota deterministically by hashMix order (q56's
    // rerun/engine/repartition-stable sampling). Scale shape: mean pass
    // + deviation pass are two map-side-combined corpus aggs (the mean
    // join-back is a registry-sized frame); apportionment windows ride
    // the language registry; the per-lang pick is the (lang,
    // hash-bucket) prefilter + bounded final window, both capped by the
    // CONSTANT budget. Overflow: 1000 * weight needs weight < 9.2e15 —
    // holds to ~1e10 docs/stratum at document-scale deviations.
    Q("q196_variance_alloc", (s, d) => {
      import s.implicits._
      import graft.operators.{CorpusOps => C}
      val docs = t(s, d, "documents").select($"doc_id", $"lang", $"n_chars")
      val mu = docs.groupBy($"lang")
        .agg(count(lit(1)).as("nh"), sum($"n_chars").as("sx"))
        .select($"lang", $"nh", expr("sx div nh").as("mu"))
      val w = docs.join(mu, "lang")
        .select($"lang", $"nh",
          (($"n_chars" - $"mu") * ($"n_chars" - $"mu")).as("d2"))
        .groupBy($"lang").agg(max($"nh").as("nh"), sum($"d2").as("weight"))
      val tot = w.agg(sum($"weight").as("wt"))
      val base = w.crossJoin(broadcast(tot))
        .select($"lang", $"nh", $"weight",
          expr("(1000 * weight) div wt").as("quota"),
          expr("(1000 * weight) % wt").as("rem"))
      val left = base.agg((lit(1000L) - sum($"quota")).as("r"))
      val wR = Window.orderBy($"rem".desc, $"lang".asc)
      val alloc = base.crossJoin(broadcast(left))
        .withColumn("rk", row_number().over(wR).cast("long"))
        .select($"lang", $"nh", $"weight",
          ($"quota" + when($"rk" <= $"r", 1L).otherwise(0L)).as("alloc"))
      val ord = Seq(C.hashMix($"doc_id", 1000000L).asc, $"doc_id".asc)
      val wB = Window.partitionBy($"lang", pmod(hash($"doc_id"), lit(64)))
        .orderBy(ord: _*)
      val wF = Window.partitionBy($"lang").orderBy(ord: _*)
      docs
        .withColumn("rb", row_number().over(wB)).filter($"rb" <= 1000)
        .withColumn("rn", row_number().over(wF).cast("long"))
        .filter($"rn" <= 1000)
        .join(alloc, "lang").filter($"rn" <= $"alloc")
        .groupBy($"lang")
        .agg(max($"nh").as("n_docs"), max($"weight").as("weight"),
          max($"alloc").as("alloc"), count(lit(1)).as("picked"),
          sum($"doc_id").as("picked_id_sum"))
    }, Some("""
      WITH mu AS (
        SELECT lang, count(*) AS nh, sum(n_chars) // count(*) AS mu
        FROM documents GROUP BY 1),
      w AS (
        SELECT d.lang, max(mu.nh) AS nh,
          sum((d.n_chars - mu.mu) * (d.n_chars - mu.mu)) AS weight
        FROM documents d JOIN mu ON mu.lang = d.lang GROUP BY 1),
      tt AS (SELECT sum(weight) AS wt FROM w),
      base AS (SELECT lang, nh, weight, (1000 * weight) // tt.wt AS quota,
                 (1000 * weight) % tt.wt AS rem
               FROM w CROSS JOIN tt),
      lf AS (SELECT 1000 - sum(quota) AS r FROM base),
      al AS (SELECT base.lang, base.nh, base.weight,
               base.quota + CASE WHEN
                 row_number() OVER (ORDER BY base.rem DESC, base.lang ASC)
                   <= lf.r THEN 1 ELSE 0 END AS alloc
             FROM base CROSS JOIN lf),
      rn AS (SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY
                 (((doc_id % 1000003) + 1000003) % 1000003
                   * 2654435761 + 40503) % 1000000 ASC, doc_id ASC) AS rn
             FROM documents),
      pick AS (SELECT rn.lang, al.nh, al.weight, al.alloc, rn.doc_id
               FROM rn JOIN al ON al.lang = rn.lang
               WHERE rn.rn <= al.alloc)
      SELECT lang, CAST(max(nh) AS BIGINT) AS n_docs,
        CAST(max(weight) AS BIGINT) AS weight,
        CAST(max(alloc) AS BIGINT) AS alloc,
        CAST(count(*) AS BIGINT) AS picked,
        CAST(sum(doc_id) AS BIGINT) AS picked_id_sum
      FROM pick GROUP BY 1""")),

    // Stratum sample-size determination (the power-analysis companion
    // to q196's allocator): per language, the n needed to estimate mean
    // n_chars within +-10 chars at 95% (z^2 = 3.8416 carried as the
    // integer 38416/1e4), with finite-population correction — the
    // "how big must the eval sample be" number a dataset owner prices
    // before labeling. All integer: two-pass centered variance (q198
    // overflow argument), n_req = ceil(38416 * var / 1e4 / d^2) via
    // integer ceil-division, fpc = n_req*nh / (n_req + nh - 1). Scale
    // shape: two map-side-combined corpus aggs + registry arithmetic;
    // zero windows, zero broadcasts beyond the registry join (AQE
    // adjudicates, unhinted).
    Q("q201_sample_size", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select($"lang", $"n_chars")
      val mu = docs.groupBy($"lang")
        .agg(count(lit(1)).as("nh"), sum($"n_chars").as("sx"))
        .select($"lang", $"nh", expr("sx div nh").as("mu"))
      docs.join(mu, "lang")
        .groupBy($"lang")
        .agg(max($"nh").as("n_docs"),
          expr("sum((n_chars - mu) * (n_chars - mu)) div max(nh)")
            .as("var_int"))
        .withColumn("n_req",
          expr("(38416 * var_int + 999999) div 1000000"))
        // greatest(..., 1) guards the degenerate single-document
        // zero-variance stratum (n_req=0, n_docs=1), where the fpc
        // denominator is 0 and the row would silently go NULL
        .withColumn("n_fpc",
          expr("(n_req * n_docs) div greatest(n_req + n_docs - 1, 1)"))
        .withColumn("feasible",
          when($"n_fpc" <= $"n_docs", 1L).otherwise(0L))
    }, Some("""
      WITH mu AS (
        SELECT lang, count(*) AS nh, sum(n_chars) // count(*) AS mu
        FROM documents GROUP BY 1),
      v AS (
        SELECT d.lang, max(mu.nh) AS n_docs,
          sum((d.n_chars - mu.mu) * (d.n_chars - mu.mu)) // max(mu.nh)
            AS var_int
        FROM documents d JOIN mu ON mu.lang = d.lang GROUP BY 1)
      SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(var_int AS BIGINT) AS var_int,
        CAST((38416 * var_int + 999999) // 1000000 AS BIGINT) AS n_req,
        CAST((((38416 * var_int + 999999) // 1000000) * n_docs)
          // greatest((38416 * var_int + 999999) // 1000000 + n_docs - 1, 1)
          AS BIGINT) AS n_fpc,
        CAST(CASE WHEN (((38416 * var_int + 999999) // 1000000) * n_docs)
          // greatest((38416 * var_int + 999999) // 1000000 + n_docs - 1, 1)
          <= n_docs THEN 1 ELSE 0 END AS BIGINT) AS feasible
      FROM v""")),

    // Information-value feature screening (WOE/IV, the credit-scoring /
    // feature-selection standard): how much do 'lang' and 'source'
    // separate good docs (n_chars >= 300) from bad — IV < 0.02 means
    // the feature is useless, > 0.3 strong. Laplace-smoothed (+1 per
    // bin) so empty bins never divide by zero; WOE =
    // ln((g+1)(B+nb) / ((b+1)(G+nb))) evaluated on an integer-ratio
    // double — the identical IEEE tree both engines (q112's ln
    // convention) — then floor-quantized to nano before the IV sum.
    // Scale shape: ONE map-side-combined (feature, bin) agg per
    // feature collapses the corpus to the registry; totals are
    // registry-sums joined back; everything downstream registry-sized.
    Q("q202_information_value", (s, d) => {
      import s.implicits._
      def iv(col0: String) = {
        val bins = t(s, d, "documents")
          .select(col(col0).as("bin"),
            when($"n_chars" >= 300, 1L).otherwise(0L).as("y"))
          .groupBy($"bin")
          .agg(sum($"y").as("g"), sum(lit(1L) - $"y").as("b"))
        val tot = bins.agg(sum($"g").as("gt"), sum($"b").as("bt"),
          count(lit(1)).as("nb"))
        bins.crossJoin(broadcast(tot))
          .select(lit(col0).as("feature"), $"nb", $"gt", $"bt",
            expr("""floor(ln((cast((g + 1) as double) * (bt + nb))
              / (cast((b + 1) as double) * (gt + nb))) * 1e9)""")
              .cast("long").as("woe_nano"),
            expr("((g + 1) * 1000000) div (gt + nb)").as("dg"),
            expr("((b + 1) * 1000000) div (bt + nb)").as("db"))
          .groupBy($"feature")
          .agg(max($"nb").as("n_bins"),
            // integer division is safe on the (possibly negative)
            // per-bin product: Spark `div` and DuckDB `//` BOTH
            // truncate toward zero on integers (measured -7//2 = -3
            // in DuckDB), so no sign-splitting is needed
            sum(expr("((dg - db) * woe_nano) div 1000000"))
              .as("iv_nano"),
            max($"woe_nano").as("max_woe_nano"),
            min($"woe_nano").as("min_woe_nano"))
      }
      iv("lang").union(iv("source"))
    }, Some("""
      WITH d AS (
        SELECT lang, source,
          CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
        FROM documents),
      lb AS (SELECT lang AS bin, sum(y) AS g, sum(1 - y) AS b
             FROM d GROUP BY 1),
      lt AS (SELECT sum(g) AS gt, sum(b) AS bt, count(*) AS nb FROM lb),
      lw AS (SELECT 'lang' AS feature, lt.nb,
               CAST(floor(ln((CAST(g + 1 AS DOUBLE) * (bt + nb))
                 / (CAST(b + 1 AS DOUBLE) * (gt + nb))) * 1e9) AS BIGINT)
                 AS woe_nano,
               ((g + 1) * 1000000) // (gt + nb) AS dg,
               ((b + 1) * 1000000) // (bt + nb) AS db
             FROM lb CROSS JOIN lt),
      sb AS (SELECT source AS bin, sum(y) AS g, sum(1 - y) AS b
             FROM d GROUP BY 1),
      st AS (SELECT sum(g) AS gt, sum(b) AS bt, count(*) AS nb FROM sb),
      sw AS (SELECT 'source' AS feature, st.nb,
               CAST(floor(ln((CAST(g + 1 AS DOUBLE) * (bt + nb))
                 / (CAST(b + 1 AS DOUBLE) * (gt + nb))) * 1e9) AS BIGINT)
                 AS woe_nano,
               ((g + 1) * 1000000) // (gt + nb) AS dg,
               ((b + 1) * 1000000) // (bt + nb) AS db
             FROM sb CROSS JOIN st),
      u AS (SELECT * FROM lw UNION ALL SELECT * FROM sw)
      SELECT feature, CAST(max(nb) AS BIGINT) AS n_bins,
        CAST(sum(((dg - db) * woe_nano) // 1000000) AS BIGINT)
          AS iv_nano,
        CAST(max(woe_nano) AS BIGINT) AS max_woe_nano,
        CAST(min(woe_nano) AS BIGINT) AS min_woe_nano
      FROM u GROUP BY 1""")),

    // Join-multiplicity profile (the cardinality contract audit behind
    // every join-size estimate: is each FK edge 1:1, 1:N, or silently
    // N:M, and how heavy is the fan-out tail): per relationship —
    // orders->customer, lineitem->orders, lineitem->part — the
    // childless/single/multi parent split, max fan-out, and mean
    // fan-out in milli. q164 audits referential INTEGRITY (orphans);
    // this audits SHAPE, the input q159's sketch estimate and q181's
    // skew report both assume. Scale shape per relation: one
    // map-side-combined child agg to per-parent counts, one
    // parent-keyed left join (both sides corpus-growing, unhinted),
    // one 1-row rollup; union of three 1-row frames.
    Q("q210_multiplicity_audit", (s, d) => {
      import s.implicits._
      def rel(name: String, parents: org.apache.spark.sql.DataFrame,
              children: org.apache.spark.sql.DataFrame) = {
        val cc = children.groupBy($"k").agg(count(lit(1)).as("c"))
        parents.join(cc, Seq("k"), "left_outer")
          .select(coalesce($"c", lit(0L)).as("c"))
          .agg(lit(name).as("relation"),
            count(lit(1)).as("n_parents"), sum($"c").as("n_children"),
            sum(when($"c" === 0, 1L).otherwise(0L)).as("childless"),
            sum(when($"c" === 1, 1L).otherwise(0L)).as("single"),
            sum(when($"c" > 1, 1L).otherwise(0L)).as("multi"),
            max($"c").as("max_fanout"))
          .withColumn("mean_fanout_milli",
            expr("(1000 * n_children) div n_parents"))
      }
      val r1 = rel("orders->customer",
        t(s, d, "customer").select($"c_custkey".cast("long").as("k")),
        t(s, d, "orders").select($"o_custkey".cast("long").as("k")))
      val r2 = rel("lineitem->orders",
        t(s, d, "orders").select($"o_orderkey".cast("long").as("k")),
        t(s, d, "lineitem").select($"l_orderkey".cast("long").as("k")))
      val r3 = rel("lineitem->part",
        t(s, d, "part").select($"p_partkey".cast("long").as("k")),
        t(s, d, "lineitem").select($"l_partkey".cast("long").as("k")))
      r1.union(r2).union(r3)
    }, Some("""
      WITH c1 AS (SELECT o_custkey AS k, count(*) AS c FROM orders
                  GROUP BY 1),
      r1 AS (
        SELECT 'orders->customer' AS relation, count(*) AS n_parents,
          sum(coalesce(c, 0)) AS n_children,
          sum(CASE WHEN coalesce(c, 0) = 0 THEN 1 ELSE 0 END) AS childless,
          sum(CASE WHEN coalesce(c, 0) = 1 THEN 1 ELSE 0 END) AS single,
          sum(CASE WHEN coalesce(c, 0) > 1 THEN 1 ELSE 0 END) AS multi,
          max(coalesce(c, 0)) AS max_fanout
        FROM customer LEFT JOIN c1 ON c1.k = c_custkey),
      c2 AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem
             GROUP BY 1),
      r2 AS (
        SELECT 'lineitem->orders', count(*),
          sum(coalesce(c, 0)),
          sum(CASE WHEN coalesce(c, 0) = 0 THEN 1 ELSE 0 END),
          sum(CASE WHEN coalesce(c, 0) = 1 THEN 1 ELSE 0 END),
          sum(CASE WHEN coalesce(c, 0) > 1 THEN 1 ELSE 0 END),
          max(coalesce(c, 0))
        FROM orders LEFT JOIN c2 ON c2.k = o_orderkey),
      c3 AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem
             GROUP BY 1),
      r3 AS (
        SELECT 'lineitem->part', count(*),
          sum(coalesce(c, 0)),
          sum(CASE WHEN coalesce(c, 0) = 0 THEN 1 ELSE 0 END),
          sum(CASE WHEN coalesce(c, 0) = 1 THEN 1 ELSE 0 END),
          sum(CASE WHEN coalesce(c, 0) > 1 THEN 1 ELSE 0 END),
          max(coalesce(c, 0))
        FROM part LEFT JOIN c3 ON c3.k = p_partkey),
      u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
            UNION ALL SELECT * FROM r3)
      SELECT relation, CAST(n_parents AS BIGINT) AS n_parents,
        CAST(n_children AS BIGINT) AS n_children,
        CAST(childless AS BIGINT) AS childless,
        CAST(single AS BIGINT) AS single, CAST(multi AS BIGINT) AS multi,
        CAST(max_fanout AS BIGINT) AS max_fanout,
        CAST((1000 * n_children) // n_parents AS BIGINT)
          AS mean_fanout_milli
      FROM u""")),

    // Purged time-series cross-validation folds (embargoed CV, the
    // leakage control finance ML standardized: q131 catches CONTENT
    // leakage, q153 GROUP leakage — this kills TEMPORAL leakage, where
    // training on events adjacent in time to the test fold leaks
    // autocorrelated state): 5 contiguous epoch-day folds, and any
    // train event within 1 day of the test fold's span is PURGED.
    // All integer day arithmetic from one min/max scalar frame; fold
    // boundaries by integer interpolation (fold f covers days
    // [lo + f*(span+1) div 5, lo + (f+1)*(span+1) div 5)). Scale
    // shape: the 5-fold classification is a constant 5x explode
    // (every event classifies against each fold row-locally); ONE
    // map-side-combined (fold, class) agg; the min/max bounds are the
    // 1-row broadcast.
    Q("q211_purged_folds", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select(expr("unix_micros(cast(ts as timestamp)) div 86400000000")
          .as("day"))
      val bounds = ev.agg(min($"day").as("lo"), max($"day").as("hi"))
      ev.crossJoin(broadcast(bounds))
        .select($"day", $"lo",
          explode(expr("sequence(0L, 4L)")).as("fold"),
          ($"hi" - $"lo" + 1).as("span"))
        .select($"fold",
          expr("lo + (fold * span) div 5").as("fs"),
          expr("lo + ((fold + 1) * span) div 5").as("fe"), $"day")
        .select($"fold",
          when($"day" >= $"fs" && $"day" < $"fe", lit("test"))
            .when($"day" >= $"fs" - 1 && $"day" < $"fe" + 1, lit("purged"))
            .otherwise(lit("train")).as("cls"))
        .groupBy($"fold")
        .agg(sum(when($"cls" === "test", 1L).otherwise(0L)).as("n_test"),
          sum(when($"cls" === "purged", 1L).otherwise(0L)).as("n_purged"),
          sum(when($"cls" === "train", 1L).otherwise(0L)).as("n_train"))
    }, Some("""
      WITH ev AS (
        SELECT epoch_us(ts) // 86400000000 AS day FROM events),
      b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
      x AS (
        SELECT f.fold, ev.day, b.lo,
          b.lo + (f.fold * (b.hi - b.lo + 1)) // 5 AS fs,
          b.lo + ((f.fold + 1) * (b.hi - b.lo + 1)) // 5 AS fe
        FROM ev CROSS JOIN b
        CROSS JOIN (SELECT unnest(range(0, 5)) AS fold) f),
      c AS (
        SELECT fold,
          CASE WHEN day >= fs AND day < fe THEN 'test'
               WHEN day >= fs - 1 AND day < fe + 1 THEN 'purged'
               ELSE 'train' END AS cls
        FROM x)
      SELECT CAST(fold AS BIGINT) AS fold,
        CAST(sum(CASE WHEN cls = 'test' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_test,
        CAST(sum(CASE WHEN cls = 'purged' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_purged,
        CAST(sum(CASE WHEN cls = 'train' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_train
      FROM c GROUP BY 1""")),

    // Cross-table reconciliation audit (the financial-close check: does
    // each order's stored total match the sum of its line items under
    // the pricing formula price*(1-disc)*(1+tax))? Per order-priority
    // band: match/mismatch counts and the signed total drift in cents.
    // Exactness: every money term goes through integer cents BEFORE
    // aggregation (the DECIMAL(12,2) lesson — float sums break hash
    // equality and real ledgers don't float); the per-line cents value
    // floors an integer-fed double product (identical IEEE tree both
    // engines); the drift value itself is signed. Scale shape: one map-side-
    // combined per-order lineitem agg, one order-keyed join (both
    // corpus-growing, unhinted), one registry rollup.
    Q("q213_reconciliation", (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem")
        .select($"l_orderkey".as("ok"),
          expr("""cast(floor(cast(l_extendedprice as double)
            * (1.0 - cast(l_discount as double))
            * (1.0 + cast(l_tax as double)) * 100) as long)""")
            .as("cents"))
        .groupBy($"ok").agg(sum($"cents").as("li_cents"))
      t(s, d, "orders")
        .select($"o_orderkey".as("ok"), $"o_orderpriority",
          expr("cast(floor(cast(o_totalprice as double) * 100) as long)")
            .as("o_cents"))
        .join(li, Seq("ok"), "left_outer")
        .select($"o_orderpriority",
          coalesce($"li_cents", lit(0L)).as("li_cents"), $"o_cents",
          ($"o_cents" - coalesce($"li_cents", lit(0L))).as("drift"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(when($"drift" === 0, 1L).otherwise(0L)).as("n_exact"),
          sum(when($"drift" =!= 0, 1L).otherwise(0L)).as("n_mismatch"),
          sum($"drift").as("net_drift_cents"),
          max(abs($"drift")).as("max_abs_drift_cents"))
    }, Some("""
      WITH li AS (
        SELECT l_orderkey AS ok,
          sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)
            * (1.0 - CAST(l_discount AS DOUBLE))
            * (1.0 + CAST(l_tax AS DOUBLE)) * 100) AS BIGINT)) AS li_cents
        FROM lineitem GROUP BY 1),
      o AS (
        SELECT o_orderkey AS ok, o_orderpriority,
          CAST(floor(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)
            AS o_cents
        FROM orders),
      j AS (
        SELECT o.o_orderpriority,
          o.o_cents - coalesce(li.li_cents, 0) AS drift
        FROM o LEFT JOIN li ON li.ok = o.ok)
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        CAST(sum(CASE WHEN drift = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_exact,
        CAST(sum(CASE WHEN drift <> 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_mismatch,
        CAST(sum(drift) AS BIGINT) AS net_drift_cents,
        CAST(max(abs(drift)) AS BIGINT) AS max_abs_drift_cents
      FROM j GROUP BY 1""")),

    // Cascade delete-impact report (the right-to-be-forgotten dry run:
    // before honoring an erasure batch, price what it touches). A
    // deterministic 2% customer slice (hashMix — the erasure batch is
    // an INPUT; the hash stands in for an uploaded id list) cascades
    // customer -> orders -> lineitem and user -> events; per table:
    // rows deleted and permille of the table. Scale shape: the
    // cascade is two LEFT-SEMI joins down the FK chain (key-keyed
    // shuffles, nothing broadcast — an id-list upload would broadcast
    // like q11's IN-list instead); per-table counts are scalar aggs
    // unioned into the 4-row report.
    Q("q214_delete_impact", (s, d) => {
      import s.implicits._
      import graft.operators.{CorpusOps => C}
      val victims = t(s, d, "customer")
        .filter(C.hashMix($"c_custkey", 50) === 0)
        .select($"c_custkey".cast("long").as("k"))
      val orders = t(s, d, "orders")
      val dOrders = orders
        .join(victims.select($"k".as("o_custkey")), Seq("o_custkey"),
          "left_semi")
      val li = t(s, d, "lineitem")
      val dLi = li.join(dOrders.select($"o_orderkey".as("l_orderkey")),
        Seq("l_orderkey"), "left_semi")
      val ev = t(s, d, "events")
      val dEv = ev.join(victims.select($"k".as("user_id")), Seq("user_id"),
        "left_semi")
      def row(name: String, del: org.apache.spark.sql.DataFrame,
              all: org.apache.spark.sql.DataFrame) = {
        val n = del.agg(count(lit(1)).as("n_deleted"))
        val tot = all.agg(count(lit(1)).as("n_total"))
        n.crossJoin(tot).select(lit(name).as("table_name"), $"n_deleted",
          $"n_total",
          expr("(n_deleted * 1000) div n_total").as("permille"))
      }
      row("customer", victims, t(s, d, "customer"))
        .union(row("orders", dOrders, orders))
        .union(row("lineitem", dLi, li))
        .union(row("events", dEv, ev))
    }, Some("""
      WITH v AS (
        SELECT c_custkey AS k FROM customer
        WHERE (((c_custkey % 1000003) + 1000003) % 1000003
          * 2654435761 + 40503) % 50 = 0),
      do_ AS (SELECT o_orderkey FROM orders
              WHERE o_custkey IN (SELECT k FROM v)),
      r AS (
        SELECT 'customer' AS table_name,
          (SELECT count(*) FROM v) AS n_deleted,
          (SELECT count(*) FROM customer) AS n_total
        UNION ALL
        SELECT 'orders', (SELECT count(*) FROM do_),
          (SELECT count(*) FROM orders)
        UNION ALL
        SELECT 'lineitem',
          (SELECT count(*) FROM lineitem
           WHERE l_orderkey IN (SELECT o_orderkey FROM do_)),
          (SELECT count(*) FROM lineitem)
        UNION ALL
        SELECT 'events',
          (SELECT count(*) FROM events
           WHERE user_id IN (SELECT k FROM v)),
          (SELECT count(*) FROM events))
      SELECT table_name, CAST(n_deleted AS BIGINT) AS n_deleted,
        CAST(n_total AS BIGINT) AS n_total,
        CAST((n_deleted * 1000) // n_total AS BIGINT) AS permille
      FROM r""")),

    // Split-conformal calibration threshold (distribution-free
    // prediction intervals, the modern ML-ops way to attach "90% of
    // values land within +-qhat" guarantees without distributional
    // assumptions): per event type, a hash-split train half supplies
    // the point predictor (exact discrete lower median of integer
    // cents, q142's value-domain grid), the calibration half supplies
    // nonconformity scores |cents - median|, and qhat is the
    // ceil((n_cal+1)*0.9)-th smallest score — an exact order statistic
    // read off the score-domain grid, never a corpus sort. Scale
    // shape: all windows partitioned by type over DISTINCT value/score
    // grids (domain-bounded, q110/q142 argument); split is the pure
    // hashMix row function; rollup is type-registry-sized.
    Q("q219_conformal_threshold", (s, d) => {
      import s.implicits._
      import graft.operators.{CorpusOps => C}
      val ev = t(s, d, "events")
        .select($"event_type", $"event_id",
          floor($"value" * 100).cast("long").as("cents"))
        .withColumn("cal", C.hashMix($"event_id", 2))
      val byType = Window.partitionBy($"event_type")
      def gridStat(df: org.apache.spark.sql.DataFrame, vc: String,
                   rankNum: org.apache.spark.sql.Column) = {
        val wCum = Window.partitionBy($"event_type").orderBy(col(vc).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df.groupBy($"event_type", col(vc)).agg(count(lit(1)).as("k"))
          .withColumn("cum", sum($"k").over(wCum))
          .withColumn("n", sum($"k").over(byType))
          .filter($"cum" >= rankNum)
          .groupBy($"event_type")
          .agg(min(col(vc)).as("stat"), max($"n").as("n"))
      }
      // train-half lower median: smallest v with cum >= (n+1) div 2
      val med = gridStat(ev.filter($"cal" === 0).select($"event_type",
          $"cents"), "cents", expr("(n + 1) div 2"))
        .select($"event_type", $"stat".as("median_cents"),
          $"n".as("n_train"))
      // calibration scores + the conformal rank ceil((n+1)*9/10)
      val scores = ev.filter($"cal" === 1)
        .join(med, "event_type")
        .select($"event_type", abs($"cents" - $"median_cents").as("s"))
      val qhat = gridStat(scores, "s", expr("((n + 1) * 9 + 9) div 10"))
        .select($"event_type", $"stat".as("qhat_cents"), $"n".as("n_cal"))
      med.join(qhat, "event_type")
        .select($"event_type", $"n_train", $"n_cal", $"median_cents",
          $"qhat_cents")
    }, Some("""
      WITH ev AS (
        SELECT event_type, event_id,
          CAST(floor(value * 100) AS BIGINT) AS cents,
          (((event_id % 1000003) + 1000003) % 1000003
            * 2654435761 + 40503) % 2 AS cal
        FROM events),
      tg AS (SELECT event_type, cents, count(*) AS k FROM ev
             WHERE cal = 0 GROUP BY 1, 2),
      tc AS (SELECT event_type, cents,
               sum(k) OVER (PARTITION BY event_type ORDER BY cents ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(k) OVER (PARTITION BY event_type) AS n
             FROM tg),
      med AS (SELECT event_type, min(cents) AS median_cents,
                max(n) AS n_train
              FROM tc WHERE cum >= (n + 1) // 2 GROUP BY 1),
      sc AS (SELECT ev.event_type,
               abs(ev.cents - med.median_cents) AS s
             FROM ev JOIN med USING (event_type) WHERE ev.cal = 1),
      sg AS (SELECT event_type, s, count(*) AS k FROM sc GROUP BY 1, 2),
      scum AS (SELECT event_type, s,
                 sum(k) OVER (PARTITION BY event_type ORDER BY s ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(k) OVER (PARTITION BY event_type) AS n
               FROM sg),
      qh AS (SELECT event_type, min(s) AS qhat_cents, max(n) AS n_cal
             FROM scum WHERE cum >= ((n + 1) * 9 + 9) // 10 GROUP BY 1)
      SELECT event_type, CAST(n_train AS BIGINT) AS n_train,
        CAST(n_cal AS BIGINT) AS n_cal,
        CAST(median_cents AS BIGINT) AS median_cents,
        CAST(qhat_cents AS BIGINT) AS qhat_cents
      FROM med JOIN qh USING (event_type)""")),

    // Per-source data-quality scorecard (the single-pane composition a
    // release review actually reads — three independent, already-
    // oracled signal families joined into one verdict per source):
    // lead-fingerprint duplication ppm (q205's fp), unigram KL drift
    // vs the corpus LM in milli-nats (q207's scheme), and mean-length
    // deviation from the corpus mean in signed permille. Flags count
    // exceeded thresholds; verdict 'ok' / 'review' (1 flag) /
    // 'block' (2+). Scale shape: three registry-sized signal frames
    // (each one or two map-side-combined corpus aggs, vocabulary /
    // fp keyed joins never broadcast, 1-row corpus totals broadcast)
    // equi-joined on the source registry.
    Q("q220_quality_scorecard", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      // signal 1: lead-fp duplication ppm per source
      val dup = docs
        .select($"source",
          md5(array_join(slice(TextOps.tokens($"text"), 1, 10), " "))
            .as("fp"))
        .groupBy($"source", $"fp").agg(count(lit(1)).as("c"))
        .groupBy($"source")
        .agg(sum($"c").as("nd"), count(lit(1)).as("nu"))
        .select($"source", $"nd".as("n_docs"),
          expr("((nd - nu) * 1000000) div nd").as("dup_ppm"))
      // signal 2: unigram KL vs corpus (q207's milli-nat scheme)
      val st = docs
        .select($"source", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("fst"))
      val ts = st.groupBy($"source").agg(sum($"fst").as("ts"))
      val ct = st.groupBy($"tok").agg(sum($"fst").as("ft"))
      val tot = ct.agg(sum($"ft").as("tt"))
      val kl = st.join(ct, "tok").join(ts, "source")
        .crossJoin(broadcast(tot))
        .withColumn("term_m",
          expr("""cast(floor(ln((cast(fst as double) * cast(tt as double))
            / (cast(ts as double) * cast(ft as double))) * 1000)
            as long)"""))
        // Spark `div` and DuckDB `//` both truncate toward zero, so the
        // signed contribution divides identically in both engines
        .withColumn("contrib", expr("(fst * term_m) div ts"))
        .groupBy($"source").agg(sum($"contrib").as("kl_milli"))
      // signal 3: mean length deviation vs corpus mean, signed permille
      val lens = docs.groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("sc"))
        .select($"source", expr("sc div n").as("mlen"))
      // integer division: a double-division + cast would TRUNCATE in
      // Spark but ROUND in DuckDB — the cross-engine cast trap
      val cmean = docs.agg(expr("sum(n_chars) div count(1)").as("cm"))
      val len = lens.crossJoin(broadcast(cmean))
        .select($"source",
          expr("((mlen - cm) * 1000) div cm").as("len_dev_pml"))
      dup.join(kl, "source").join(len, "source")
        .withColumn("flags",
          when($"dup_ppm" > 100000, 1L).otherwise(0L)
            + when($"kl_milli" > 150, 1L).otherwise(0L)
            + when(abs($"len_dev_pml") > 100, 1L).otherwise(0L))
        .withColumn("verdict",
          when($"flags" >= 2, lit("block"))
            .when($"flags" === 1, lit("review")).otherwise(lit("ok")))
    }, Some("""
      WITH docs AS (
        SELECT doc_id, source, text, n_chars,
          md5(array_to_string(
            list_slice(string_split_regex(trim(text), '\s+'), 1, 10), ' '))
            AS fp
        FROM documents),
      dup AS (
        SELECT source, sum(c) AS nd, count(*) AS nu FROM (
          SELECT source, fp, count(*) AS c FROM docs GROUP BY 1, 2)
        GROUP BY 1),
      d2 AS (SELECT source, nd AS n_docs,
               ((nd - nu) * 1000000) // nd AS dup_ppm
             FROM dup),
      st AS (SELECT source, unnest(string_split_regex(trim(text), '\s+'))
               AS tok FROM docs),
      f AS (SELECT source, tok, count(*) AS fst FROM st GROUP BY 1, 2),
      ts AS (SELECT source, sum(fst) AS ts FROM f GROUP BY 1),
      ct AS (SELECT tok, sum(fst) AS ft FROM f GROUP BY 1),
      tt AS (SELECT sum(ft) AS tt FROM ct),
      kl AS (
        SELECT f.source,
          sum((f.fst * t.term_m) // ts.ts) AS kl_milli
        FROM f JOIN ts USING (source)
        JOIN (SELECT f2.source, f2.tok,
                CAST(floor(ln((CAST(f2.fst AS DOUBLE) * CAST(tt.tt AS DOUBLE))
                  / (CAST(ts2.ts AS DOUBLE) * CAST(ct.ft AS DOUBLE))) * 1000)
                  AS BIGINT) AS term_m
              FROM f f2 JOIN ts ts2 USING (source) JOIN ct USING (tok)
              CROSS JOIN tt) t
          ON t.source = f.source AND t.tok = f.tok
        GROUP BY 1),
      lens AS (SELECT source, sum(n_chars) // count(*) AS mlen
               FROM docs GROUP BY 1),
      cm AS (SELECT sum(n_chars) // count(*) AS cm FROM docs),
      len AS (SELECT source,
                ((mlen - cm.cm) * 1000) // cm.cm AS len_dev_pml
              FROM lens CROSS JOIN cm),
      j AS (
        SELECT d2.source, d2.n_docs, d2.dup_ppm, kl.kl_milli,
          len.len_dev_pml,
          (CASE WHEN d2.dup_ppm > 100000 THEN 1 ELSE 0 END)
            + (CASE WHEN kl.kl_milli > 150 THEN 1 ELSE 0 END)
            + (CASE WHEN abs(len.len_dev_pml) > 100 THEN 1 ELSE 0 END)
            AS flags
        FROM d2 JOIN kl USING (source) JOIN len USING (source))
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(dup_ppm AS BIGINT) AS dup_ppm,
        CAST(kl_milli AS BIGINT) AS kl_milli,
        CAST(len_dev_pml AS BIGINT) AS len_dev_pml,
        CAST(flags AS BIGINT) AS flags,
        CASE WHEN flags >= 2 THEN 'block' WHEN flags = 1 THEN 'review'
          ELSE 'ok' END AS verdict
      FROM j""")),

    // Feature→label leakage screen (the pre-training check that
    // catches a feature which IS the label in disguise): Pearson
    // correlation of each candidate feature against the quality
    // label, flagged when |corr| > 0.99. The feature set deliberately
    // includes n_chars — the label is DERIVED from it (n_chars >=
    // 300), so the screen must flag it (|corr| here is the
    // point-biserial ~0.79 at this corpus, flag fires at > 990 only
    // for true aliases — the structural-alias case is pinned in
    // RoundAuditsSpec instead). Exactness: all five sums are integer
    // (y is 0/1); corr is ONE floor over integer-fed doubles (q208's
    // cross-multiplied form; the one-pass n·Σx² stays under int64
    // here because features are doc-bounded — at lake scale the
    // two-pass centered form of q198/q203 replaces it). Scale shape:
    // one row-local feature projection, one unpivot (3 rows/doc),
    // one map-side-combined per-feature agg — the feature registry.
    Q("q242_leak_screen", (s, d) => {
      import s.implicits._
      val base = t(s, d, "documents")
        .select($"doc_id", $"n_chars".cast("long").as("x1"),
          TextOps.tokenCount($"text").cast("long").as("x2"),
          size(array_distinct(TextOps.tokens($"text"))).cast("long")
            .as("x3"),
          when($"n_chars" >= 300, 1L).otherwise(0L).as("y"))
      base
        .select($"y", expr(
          """stack(3, 'n_chars', x1, 'n_tokens', x2,
            'n_distinct_tokens', x3) as (feature, x)"""))
        .groupBy($"feature")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
          sum($"x" * $"x").as("sxx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"))
        .select($"feature", $"n",
          expr("""cast(floor(1000 *
            (cast(n * sxy - sx * sy as double)) /
            sqrt(cast(n * sxx - sx * sx as double) *
                 cast(n * sy - sy * sy as double))) as long)""")
            .as("corr_milli"))
        .withColumn("leak_flag",
          when(abs($"corr_milli") > 990, 1L).otherwise(0L))
    }, Some("""
      WITH b AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS x1,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS x2,
          CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
            AS BIGINT) AS x3,
          CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
        FROM documents),
      u AS (
        SELECT 'n_chars' AS feature, x1 AS x, y FROM b
        UNION ALL SELECT 'n_tokens', x2, y FROM b
        UNION ALL SELECT 'n_distinct_tokens', x3, y FROM b),
      g AS (
        SELECT feature, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
          sum(y) AS sy, sum(x * y) AS sxy
        FROM u GROUP BY 1)
      SELECT feature, CAST(n AS BIGINT) AS n,
        CAST(floor(1000 *
          CAST(n * sxy - sx * sy AS DOUBLE) /
          sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
               CAST(n * sy - sy * sy AS DOUBLE))) AS BIGINT)
          AS corr_milli,
        CAST(CASE WHEN abs(floor(1000 *
          CAST(n * sxy - sx * sy AS DOUBLE) /
          sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
               CAST(n * sy - sy * sy AS DOUBLE)))) > 990
          THEN 1 ELSE 0 END AS BIGINT) AS leak_flag
      FROM g""")),

    // l-diversity audit (the re-identification check BEYOND k-anonymity:
    // q146 suppresses small quasi-identifier groups, but a LARGE group
    // whose sensitive attribute is uniform is still disclosive — every
    // member's balance bracket is revealed). Per (nation, segment)
    // quasi-identifier group over the balance bracket as the sensitive
    // attribute: group size, distinct-l, Shannon entropy of the
    // sensitive distribution (nano-nats, q129 quantization scheme),
    // and the distinct-l>=3 / entropy>=ln(3) release flags. Scale
    // shape: ONE map-side-combined (group, bracket) agg; the
    // group-total window is partitioned by group and bounded by the
    // bracket domain (<= ~12 rows/group at ANY corpus size); the final
    // agg is registry-sized. Exactness: entropy terms are
    // k·floor(ln(n/k)·1e9) — integer-fed correctly-rounded IEEE ln,
    // floor-quantized per term (q129 convention), so both engines sum
    // identical integers.
    Q("q247_ldiversity", (s, d) => {
      import s.implicits._
      val ent3 = 1098612288L // floor(ln(3) * 1e9)
      val tf = t(s, d, "customer")
        .select($"c_nationkey", $"c_mktsegment",
          floor($"c_acctbal" / 1000).cast("long").as("sens"))
        .groupBy($"c_nationkey", $"c_mktsegment", $"sens")
        .agg(count(lit(1)).as("k"))
      val wN = Window.partitionBy($"c_nationkey", $"c_mktsegment")
      tf.withColumn("n", sum($"k").over(wN))
        .withColumn("term", $"k" *
          floor(log($"n".cast("double") / $"k".cast("double")) * 1e9)
            .cast("long"))
        .groupBy($"c_nationkey", $"c_mktsegment")
        .agg(max($"n").as("n"), count(lit(1)).as("distinct_l"),
          expr("sum(term) div max(n)").as("entropy_nano"))
        .select($"c_nationkey", $"c_mktsegment", $"n", $"distinct_l",
          $"entropy_nano",
          when($"distinct_l" >= 3 && $"entropy_nano" >= ent3, 1L)
            .otherwise(0L).as("release_ok"))
    }, Some("""
      WITH tf AS (
        SELECT c_nationkey, c_mktsegment,
          CAST(floor(c_acctbal / 1000) AS BIGINT) AS sens,
          count(*) AS k
        FROM customer GROUP BY 1, 2, 3),
      wn AS (
        SELECT tf.*, sum(k) OVER (PARTITION BY c_nationkey, c_mktsegment)
          AS n FROM tf),
      tm AS (
        SELECT c_nationkey, c_mktsegment, n,
          k * CAST(floor(ln(n * 1.0 / k) * 1000000000) AS BIGINT) AS term
        FROM wn),
      g AS (
        SELECT c_nationkey, c_mktsegment, max(n) AS n,
          count(*) AS distinct_l, sum(term) // max(n) AS entropy_nano
        FROM tm GROUP BY 1, 2)
      SELECT c_nationkey, c_mktsegment, CAST(n AS BIGINT) AS n,
        CAST(distinct_l AS BIGINT) AS distinct_l,
        CAST(entropy_nano AS BIGINT) AS entropy_nano,
        CAST(CASE WHEN distinct_l >= 3
               AND entropy_nano >= 1098612288 THEN 1 ELSE 0 END
             AS BIGINT) AS release_ok
      FROM g""")),

    // Brier-score Murphy decomposition of the quality "probability"
    // (q28's raw score as a forecast of the n_chars>=300 label):
    // reliability (calibration error), resolution (discrimination),
    // uncertainty (label base rate), plus the directly-computed Brier
    // and the decomposition gap Brier−(REL−RES+UNC) — the one-row
    // scoring-rule audit complementing q176's calibration CURVE and
    // q85's threshold fit: REL says how far the forecast is from
    // calibrated, RES says whether it separates classes at all.
    // Scale shape: corpus collapses to a <= 10-row decile-bucket frame
    // in ONE map-side-combined agg (per-doc squared errors summed
    // inside it); every later step is 10-row math with a 1-row global
    // broadcast. Exactness: micro-quantized integer means and squared
    // deviations (all div, truncation-identical); squared-error sums
    // stay < 1e12·N — document a permille rescale once N passes ~1e6
    // per partition at lake scale.
    Q("q252_brier_decomp", (s, d) => {
      import s.implicits._
      val b = t(s, d, "documents")
        .select(floor(TextOps.qualityRaw($"text") * 1000).cast("long")
          .as("p"),
          when($"n_chars" >= 300, 1L).otherwise(0L).as("y"))
        .withColumn("k", least(expr("p div 100"), lit(9L)))
        .groupBy($"k").agg(
          count(lit(1)).as("nk"), sum($"p").as("sp"), sum($"y").as("sy"),
          sum(expr(
            "(p * 1000 - y * 1000000) * (p * 1000 - y * 1000000)"))
            .as("sq"))
      val g = b.agg(sum($"nk").as("n"), sum($"sy").as("ytot"),
        sum($"sq").as("sqtot"))
      b.crossJoin(broadcast(g))
        .withColumn("pbar", expr("(sp * 1000) div nk"))
        .withColumn("ybar", expr("(sy * 1000000) div nk"))
        .withColumn("ybg", expr("(ytot * 1000000) div n"))
        .agg(
          max($"n").as("n"),
          expr("sum(nk * (pbar - ybar) * (pbar - ybar)) div (max(n) * 1000000)")
            .as("rel_micro"),
          expr("sum(nk * (ybar - ybg) * (ybar - ybg)) div (max(n) * 1000000)")
            .as("res_micro"),
          expr("(max(ybg) * (1000000 - max(ybg))) div 1000000")
            .as("unc_micro"),
          expr("max(sqtot) div (max(n) * 1000000)").as("brier_micro"))
        .withColumn("decomp_gap_micro",
          expr("brier_micro - (rel_micro - res_micro + unc_micro)"))
    }, Some("""
      WITH base AS (
        SELECT CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS p,
          CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
        FROM documents),
      bk AS (
        SELECT least(p // 100, 9) AS k, count(*) AS nk, sum(p) AS sp,
          sum(y) AS sy,
          sum((p * 1000 - y * 1000000) * (p * 1000 - y * 1000000)) AS sq
        FROM base GROUP BY 1),
      g AS (SELECT sum(nk) AS n, sum(sy) AS ytot, sum(sq) AS sqtot
            FROM bk),
      w AS (
        SELECT bk.*, g.n, g.ytot, g.sqtot,
          (sp * 1000) // nk AS pbar, (sy * 1000000) // nk AS ybar,
          (ytot * 1000000) // n AS ybg
        FROM bk CROSS JOIN g),
      f AS (
        SELECT max(n) AS n,
          sum(nk * (pbar - ybar) * (pbar - ybar)) // (max(n) * 1000000)
            AS rel_micro,
          sum(nk * (ybar - ybg) * (ybar - ybg)) // (max(n) * 1000000)
            AS res_micro,
          (max(ybg) * (1000000 - max(ybg))) // 1000000 AS unc_micro,
          max(sqtot) // (max(n) * 1000000) AS brier_micro
        FROM w)
      SELECT CAST(n AS BIGINT) AS n, CAST(rel_micro AS BIGINT) AS rel_micro,
        CAST(res_micro AS BIGINT) AS res_micro,
        CAST(unc_micro AS BIGINT) AS unc_micro,
        CAST(brier_micro AS BIGINT) AS brier_micro,
        CAST(brier_micro - (rel_micro - res_micro + unc_micro) AS BIGINT)
          AS decomp_gap_micro
      FROM f""")),

    // Chi-square independence test, lang × source (+ Cramér's V):
    // "is language independent of source?" — the classic contingency
    // test on the two corpus partitions; a high V means language
    // balance must be managed PER SOURCE (mixture weights q72,
    // apportionment q166 get it wrong otherwise). Integer form per
    // cell: (o·T − r·c)² scaled /(r·c·T), so expected counts never
    // exist as floats; V = sqrt(χ²/(T·min(R−1,C−1))) is one floor
    // over an integer-fed double (q203 convention). Scale shape: the
    // corpus collapses to the registry² contingency table in ONE
    // map-side-combined agg; margins are registry-sized rollups
    // broadcast back; all else is table-sized math. Int64: o·T
    // overflows past T ≈ 3e9 — rescale counts to kilo-units first at
    // lake scale (documented).
    Q("q266_chi2_independence", (s, d) => {
      import s.implicits._
      val cells = t(s, d, "documents")
        .groupBy($"lang", $"source").agg(count(lit(1)).as("o"))
        .persist()
      val rm = cells.groupBy($"lang").agg(sum($"o").as("r"))
      val cm = cells.groupBy($"source").agg(sum($"o").as("c"))
      val tot = cells.agg(sum($"o").as("tt"),
        countDistinct($"lang").as("nr"),
        countDistinct($"source").as("nc"))
      cells.join(broadcast(rm), "lang").join(broadcast(cm), "source")
        .crossJoin(broadcast(tot))
        .withColumn("contrib_milli", expr(
          "((o * tt - r * c) * (o * tt - r * c) * 1000) div (r * c * tt)"))
        .agg(max($"tt").as("n"), count(lit(1)).as("n_cells"),
          max(expr("(nr - 1) * (nc - 1)")).as("df"),
          sum($"contrib_milli").as("chi2_milli"),
          max($"nr").as("nr"), max($"nc").as("nc"))
        .select($"n", $"n_cells", $"df", $"chi2_milli",
          floor(sqrt($"chi2_milli".cast("double") / 1000d /
            ($"n" * least($"nr" - 1, $"nc" - 1)).cast("double")) * 1000d)
            .cast("long").as("cramers_v_milli"))
    }, Some("""
      WITH cells AS (
        SELECT lang, source, count(*) AS o
        FROM documents GROUP BY 1, 2),
      rm AS (SELECT lang, sum(o) AS r FROM cells GROUP BY 1),
      cm AS (SELECT source, sum(o) AS c FROM cells GROUP BY 1),
      tot AS (SELECT sum(o) AS tt, count(DISTINCT lang) AS nr,
                count(DISTINCT source) AS nc
              FROM cells),
      j AS (
        SELECT cells.o, rm.r, cm.c, tot.tt, tot.nr, tot.nc,
          ((cells.o * tot.tt - rm.r * cm.c) *
           (cells.o * tot.tt - rm.r * cm.c) * 1000)
            // (rm.r * cm.c * tot.tt) AS contrib_milli
        FROM cells JOIN rm USING (lang) JOIN cm USING (source)
        CROSS JOIN tot)
      SELECT CAST(max(tt) AS BIGINT) AS n,
        CAST(count(*) AS BIGINT) AS n_cells,
        CAST(max((nr - 1) * (nc - 1)) AS BIGINT) AS df,
        CAST(sum(contrib_milli) AS BIGINT) AS chi2_milli,
        CAST(floor(sqrt(CAST(sum(contrib_milli) AS DOUBLE) / 1000 /
          CAST(max(tt) * least(max(nr) - 1, max(nc) - 1) AS DOUBLE))
          * 1000) AS BIGINT) AS cramers_v_milli
      FROM j""")),

    // Compaction planner (the small-files remedy next to q188's
    // prune-stats diagnosis): pack each source's documents, in stable
    // doc_id order, into sequential 16 KiB target bins by cumulative
    // size — bin = floor(bytes-before / target), the deterministic
    // linear-scan plan a table-maintenance job would execute. Readout
    // per source: bins, fill factor, worst bin. THE scale point: the
    // cumulative size is a per-source ordered prefix sum — textbook
    // non-distributable — so it is computed TWO-LEVEL (q275's scan
    // decomposition): within-(source, 256-doc block) running sums +
    // per-source block-offset cumsum over the n/256-row block grid
    // (at petabyte scale the block grid recurses once more; no window
    // here ever orders more than 256 rows or the block grid).
    Q("q277_compaction_planner", (s, d) => {
      import s.implicits._
      val target = 16384L
      val docs = t(s, d, "documents")
        .select($"source", $"doc_id", $"n_chars",
          expr("doc_id div 256").as("blk"))
      val wB = Window.partitionBy($"source", $"blk")
        .orderBy($"doc_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val l1 = docs.withColumn("rs", sum($"n_chars").over(wB))
      val wS = Window.partitionBy($"source").orderBy($"blk".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offs = docs.groupBy($"source", $"blk")
        .agg(sum($"n_chars").as("bt"))
        .withColumn("off", sum($"bt").over(wS) - $"bt")
        .select($"source", $"blk", $"off")
      val bins = l1.join(offs, Seq("source", "blk"))
        .select($"source", $"n_chars",
          expr(s"(off + rs - n_chars) div $target").as("bin"))
        .groupBy($"source", $"bin").agg(sum($"n_chars").as("bc"))
      bins.groupBy($"source")
        .agg(count(lit(1)).as("n_bins"), sum($"bc").as("total_chars"),
          max($"bc").as("max_bin_chars"),
          expr(s"(sum(bc) * 1000000) div (count(1) * $target)")
            .as("fill_ppm"))
    }, Some("""
      WITH cum AS (
        SELECT source, n_chars,
          sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM documents),
      bins AS (
        SELECT source, (c - n_chars) // 16384 AS bin,
          sum(n_chars) AS bc
        FROM cum GROUP BY 1, 2)
      SELECT source, count(*) AS n_bins,
        CAST(sum(bc) AS BIGINT) AS total_chars,
        CAST(max(bc) AS BIGINT) AS max_bin_chars,
        CAST((sum(bc) * 1000000) // (count(*) * 16384) AS BIGINT)
          AS fill_ppm
      FROM bins GROUP BY 1""")),

    // Leave-one-out target encoding (the leakage-SAFE categorical
    // feature q242's screen checks FOR: encoding a category by its
    // target mean must exclude the row's own target or the feature
    // memorizes the label): enc(row) = (catSum − y + m·globalMean) /
    // (catN − 1 + m), smoothing m=10 pulls rare categories toward the
    // prior. Readout per category: the encoding's min/mean/max — the
    // feature-store summary. Exactness: targets floor-micro BEFORE
    // any sum; the global mean is ONE integer division; per-row enc
    // is integer div (n−1+m ≥ m > 0, no degenerate denominator).
    // Scale shape: one map-side-combined category agg (registry-
    // bounded, broadcast back) + the 1-row global; the per-row
    // arithmetic is row-local codegen; final agg map-side-combined.
    Q("q278_loo_target_encoding", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select($"event_type", floor($"value" * 1000000).cast("long").as("y"))
      val cat = ev.groupBy($"event_type")
        .agg(count(lit(1)).as("cn"), sum($"y").as("cs"))
      val g = cat.agg(expr("sum(cs) div sum(cn)").as("gmean"))
      ev.join(broadcast(cat), "event_type").crossJoin(broadcast(g))
        .withColumn("enc",
          expr("(cs - y + 10 * gmean) div (cn - 1 + 10)"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_rows"), min($"enc").as("enc_min_micro"),
          max($"enc").as("enc_max_micro"),
          expr("sum(enc) div count(1)").as("enc_mean_micro"))
    }, Some("""
      WITH ev AS (
        SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS y
        FROM events),
      cat AS (SELECT event_type, count(*) AS cn, sum(y) AS cs
              FROM ev GROUP BY 1),
      g AS (SELECT sum(cs) // sum(cn) AS gmean FROM cat),
      enc AS (
        SELECT ev.event_type,
          (cat.cs - ev.y + 10 * g.gmean) // (cat.cn - 1 + 10) AS enc
        FROM ev JOIN cat USING (event_type) CROSS JOIN g)
      SELECT event_type, count(*) AS n_rows,
        CAST(min(enc) AS BIGINT) AS enc_min_micro,
        CAST(max(enc) AS BIGINT) AS enc_max_micro,
        CAST(sum(enc) // count(*) AS BIGINT) AS enc_mean_micro
      FROM enc GROUP BY 1""")),

    // Population Stability Index per event type (THE scorecard-
    // monitoring drift number: reference-period value deciles become
    // fixed bins; PSI = Σ (p_i − q_i)·ln(p_i/q_i) over current-vs-
    // reference bin shares — decision thresholds 0.1/0.25 are industry
    // convention). Differs from q143 (KS: max CDF gap, no binning)
    // and q207 (KL: vocabulary distribution): PSI is the BINNED,
    // symmetric-in-spirit variant risk teams actually gate on, and
    // the decile-bin derivation itself (exact thresholds from a
    // cumulative over the value grid) is the reusable machinery.
    // Exactness: centi-quantized value grid; thresholds are exact
    // lower-rank deciles (ceil(k·n/10) via integer div); Laplace
    // +1 smoothing makes every bin share positive; shares in ppm;
    // ln on the integer-fed p/q ratio floor-milli (q207 convention);
    // contributions integer products summed to nano-nats. Scale
    // shape: ONE (type, period, centi-value) agg collapses the
    // stream; cum windows and threshold joins ride the value-domain
    // grid; the 9-rank and 10-bin frames are literal local relations;
    // the final rollup is registry-sized.
    Q("q279_psi_drift", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select($"event_type",
          when(to_date($"ts".cast("timestamp")) < lit("2024-01-15"), "ref")
            .otherwise("cur").as("per"),
          floor($"value" * 100).cast("long").as("vc"))
      val grid = ev.groupBy($"event_type", $"per", $"vc")
        .agg(count(lit(1)).as("cnt")).persist()
      val tots = grid.groupBy($"event_type", $"per")
        .agg(sum($"cnt").as("n"))
      val wV = Window.partitionBy($"event_type").orderBy($"vc".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val refCum = grid.filter($"per" === "ref")
        .withColumn("cum", sum($"cnt").over(wV))
        .join(tots.filter($"per" === "ref")
          .select($"event_type", $"n"), "event_type")
      val ks = (1L to 9L).toDF("k")
      val thr = refCum.crossJoin(broadcast(ks))
        .filter($"cum" >= expr("(n * k + 9) div 10"))
        .groupBy($"event_type", $"k").agg(min($"vc").as("t"))
      val binned = grid.join(broadcast(thr), "event_type")
        .groupBy($"event_type", $"per", $"vc")
        .agg(max($"cnt").as("cnt"),
          sum(($"t" <= $"vc").cast("long")).as("bin"))
        .groupBy($"event_type", $"bin")
        .agg(sum(when($"per" === "ref", $"cnt").otherwise(0L)).as("rc"),
          sum(when($"per" === "cur", $"cnt").otherwise(0L)).as("cc"))
      val types = grid.select($"event_type").distinct()
      val bins = (0L to 9L).toDF("bin")
      val full = types.crossJoin(broadcast(bins))
        .join(binned, Seq("event_type", "bin"), "left_outer")
        .select($"event_type", $"bin",
          coalesce($"rc", lit(0L)).as("rc"), coalesce($"cc", lit(0L)).as("cc"))
      full
        .join(tots.filter($"per" === "ref")
          .select($"event_type", $"n".as("rn")), "event_type")
        .join(tots.filter($"per" === "cur")
          .select($"event_type", $"n".as("cn")), "event_type")
        .withColumn("p", expr("((rc + 1) * 1000000) div (rn + 10)"))
        .withColumn("q", expr("((cc + 1) * 1000000) div (cn + 10)"))
        .withColumn("lr",
          expr("cast(floor(ln(cast(p as double) / cast(q as double)) * 1000) as long)"))
        .groupBy($"event_type")
        .agg(max($"rn").as("n_ref"), max($"cn").as("n_cur"),
          sum(($"p" - $"q") * $"lr").as("psi_nano"))
    }, Some("""
      WITH ev AS (
        SELECT event_type,
          CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15'
               THEN 'ref' ELSE 'cur' END AS per,
          CAST(floor(value * 100) AS BIGINT) AS vc
        FROM events),
      grid AS (SELECT event_type, per, vc, count(*) AS cnt
               FROM ev GROUP BY 1, 2, 3),
      tots AS (SELECT event_type, per, sum(cnt) AS n
               FROM grid GROUP BY 1, 2),
      refcum AS (
        SELECT g.event_type, g.vc, t.n,
          sum(g.cnt) OVER (PARTITION BY g.event_type ORDER BY g.vc ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM grid g JOIN tots t
          ON t.event_type = g.event_type AND t.per = 'ref'
        WHERE g.per = 'ref'),
      ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (1), (2), (3),
        (4), (5), (6), (7), (8), (9)) v(k)),
      thr AS (
        SELECT event_type, k, min(vc) AS t
        FROM refcum CROSS JOIN ks
        WHERE cum >= (n * k + 9) // 10
        GROUP BY 1, 2),
      assigned AS (
        SELECT g.event_type, g.per, g.vc, max(g.cnt) AS cnt,
          sum(CASE WHEN thr.t <= g.vc THEN 1 ELSE 0 END) AS bin
        FROM grid g JOIN thr ON thr.event_type = g.event_type
        GROUP BY 1, 2, 3),
      binned AS (
        SELECT event_type, bin,
          sum(CASE WHEN per = 'ref' THEN cnt ELSE 0 END) AS rc,
          sum(CASE WHEN per = 'cur' THEN cnt ELSE 0 END) AS cc
        FROM assigned GROUP BY 1, 2),
      bins AS (SELECT CAST(b AS BIGINT) AS bin FROM (VALUES (0), (1),
        (2), (3), (4), (5), (6), (7), (8), (9)) v(b)),
      full_bins AS (
        SELECT ty.event_type, bins.bin,
          coalesce(b.rc, 0) AS rc, coalesce(b.cc, 0) AS cc
        FROM (SELECT DISTINCT event_type FROM grid) ty
        CROSS JOIN bins
        LEFT JOIN binned b
          ON b.event_type = ty.event_type AND b.bin = bins.bin),
      shares AS (
        SELECT f.event_type, rt.n AS rn, ct.n AS cn,
          ((f.rc + 1) * 1000000) // (rt.n + 10) AS p,
          ((f.cc + 1) * 1000000) // (ct.n + 10) AS q
        FROM full_bins f
        JOIN tots rt ON rt.event_type = f.event_type AND rt.per = 'ref'
        JOIN tots ct ON ct.event_type = f.event_type AND ct.per = 'cur')
      SELECT event_type, CAST(max(rn) AS BIGINT) AS n_ref,
        CAST(max(cn) AS BIGINT) AS n_cur,
        CAST(sum((p - q) * CAST(floor(ln(CAST(p AS DOUBLE)
          / CAST(q AS DOUBLE)) * 1000) AS BIGINT)) AS BIGINT) AS psi_nano
      FROM shares GROUP BY 1""")),

    // Functional-dependency discovery (constraint profiling): for each
    // candidate A→B, the violation profile — how many A-groups see
    // more than one distinct B — separating REAL keys/dependencies
    // (o_orderkey→o_custkey, doc_id→source: 0 violations, usable as
    // merge keys and pruning predicates) from folk assumptions
    // (source→lang, user_id→event_type: heavily violated). q164
    // checks DECLARED foreign keys hold across tables; this DISCOVERS
    // which intra-table dependencies hold at all — the profiling
    // input a schema-inference or CDC-merge layer needs. Scale shape:
    // per candidate ONE map-side-combined (A, distinct-B) agg — the
    // countDistinct is per-group, never global — then a scalar
    // rollup; candidates union registry-sized 1-row frames.
    Q("q284_fd_discovery", (s, d) => {
      import s.implicits._
      def fd(df: org.apache.spark.sql.DataFrame, lhs: String, rhs: String,
             name: String) =
        df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("nd"))
          .agg(lit(name).as("fd"), count(lit(1)).as("n_keys"),
            sum(($"nd" > 1).cast("long")).as("viol_keys"),
            max($"nd").as("max_rhs"))
          .withColumn("viol_ppm",
            expr("(viol_keys * 1000000) div n_keys"))
      fd(t(s, d, "orders"), "o_orderkey", "o_custkey",
          "orders.o_orderkey->o_custkey")
        .unionAll(fd(t(s, d, "lineitem"), "l_orderkey", "l_suppkey",
          "lineitem.l_orderkey->l_suppkey"))
        .unionAll(fd(t(s, d, "lineitem"), "l_partkey", "l_returnflag",
          "lineitem.l_partkey->l_returnflag"))
        .unionAll(fd(t(s, d, "documents"), "doc_id", "source",
          "documents.doc_id->source"))
        .unionAll(fd(t(s, d, "documents"), "source", "lang",
          "documents.source->lang"))
        .unionAll(fd(t(s, d, "events"), "user_id", "event_type",
          "events.user_id->event_type"))
    }, Some("""
      WITH c1 AS (SELECT o_orderkey AS k, count(DISTINCT o_custkey) AS nd
                  FROM orders GROUP BY 1),
      c2 AS (SELECT l_orderkey AS k, count(DISTINCT l_suppkey) AS nd
             FROM lineitem GROUP BY 1),
      c3 AS (SELECT l_partkey AS k, count(DISTINCT l_returnflag) AS nd
             FROM lineitem GROUP BY 1),
      c4 AS (SELECT doc_id AS k, count(DISTINCT source) AS nd
             FROM documents GROUP BY 1),
      c5 AS (SELECT source AS k, count(DISTINCT lang) AS nd
             FROM documents GROUP BY 1),
      c6 AS (SELECT user_id AS k, count(DISTINCT event_type) AS nd
             FROM events GROUP BY 1),
      r AS (
        SELECT 'orders.o_orderkey->o_custkey' AS fd, count(*) AS n_keys,
          sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS viol_keys,
          max(nd) AS max_rhs FROM c1
        UNION ALL
        SELECT 'lineitem.l_orderkey->l_suppkey', count(*),
          sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), max(nd) FROM c2
        UNION ALL
        SELECT 'lineitem.l_partkey->l_returnflag', count(*),
          sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), max(nd) FROM c3
        UNION ALL
        SELECT 'documents.doc_id->source', count(*),
          sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), max(nd) FROM c4
        UNION ALL
        SELECT 'documents.source->lang', count(*),
          sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), max(nd) FROM c5
        UNION ALL
        SELECT 'events.user_id->event_type', count(*),
          sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), max(nd) FROM c6)
      SELECT fd, CAST(n_keys AS BIGINT) AS n_keys,
        CAST(viol_keys AS BIGINT) AS viol_keys,
        CAST(max_rhs AS BIGINT) AS max_rhs,
        CAST((viol_keys * 1000000) // n_keys AS BIGINT) AS viol_ppm
      FROM r""")),

    // Capture-recapture estimate of the TRUE near-duplicate pair
    // population (Chapman's bias-corrected Lincoln-Petersen estimator
    // over two independent detectors: q69's text-simhash pair set as
    // capture 1, its embedding-LSH pair set as capture 2, their
    // intersection as the recapture) — the coverage-GOVERNANCE number
    // no single detector can give: "we found U pairs, the overlap says
    // roughly N exist, so each detector sees n_i/N of the problem".
    // The independence assumption is the method's documented caveat
    // (text and embedding similarity correlate); the estimator is the
    // standard ecology/record-linkage one (Chapman 1951). Exactness:
    // pure integer counts; Chapman (n1+1)(n2+1)//(m+1) - 1 never
    // divides by zero; coverage ppm guarded for the empty-estimate
    // corner in both engines. Scale shape: exactly q69's two
    // linear-candidate pair frames (banded simhash self-join; bucketed
    // LSH — never all-pairs) collapsed by ONE 1-row aggregate.
    Q("q290_capture_recapture", (s, d) => {
      import s.implicits._
      val tokRows = t(s, d, "documents")
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      val sigs = DedupOps
        .simhash32FromTokenRows(tokRows, "doc_id", "tok", "simhash")
        .select($"doc_id", $"simhash").persist()
      val textPairs = DedupOps
        .simhashPairsBanded(sigs, "doc_id", "simhash", maxHamming = 1)
        .select($"doc_a".as("id_a"), $"doc_b".as("id_b"),
          lit(true).as("bt"))
      val n = Stats.parquetRowCount(s, s"$d/embeddings.parquet")
      val cfg = SimilarityOps.lshSizing(n)
      val tables = SimilarityOps.lshTables(cfg.planes, cfg.tables, dim = 64)
      val embPairs = SimilarityOps
        .lshNearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding",
          tables, threshold = 0.4, probes = cfg.probes)
        .select($"id_a", $"id_b", lit(true).as("be"))
      textPairs.join(embPairs, Seq("id_a", "id_b"), "full_outer")
        .agg(
          sum(when(coalesce($"bt", lit(false)), 1L).otherwise(0L))
            .as("n_text"),
          sum(when(coalesce($"be", lit(false)), 1L).otherwise(0L))
            .as("n_emb"),
          sum(when(coalesce($"bt", lit(false)) &&
            coalesce($"be", lit(false)), 1L).otherwise(0L)).as("n_both"),
          count(lit(1)).as("n_union"))
        .select($"n_text", $"n_emb", $"n_both", $"n_union",
          expr("((n_text + 1) * (n_emb + 1)) div (n_both + 1) - 1")
            .as("chapman_est"))
        .select($"n_text", $"n_emb", $"n_both", $"n_union", $"chapman_est",
          expr("""CASE WHEN chapman_est <= 0 THEN 1000000
            ELSE (n_text * 1000000) div chapman_est END""")
            .as("cov_text_ppm"),
          expr("""CASE WHEN chapman_est <= 0 THEN 1000000
            ELSE (n_emb * 1000000) div chapman_est END""")
            .as("cov_emb_ppm"))
    }, Some(GovernanceQueries.captureRecaptureOracleSql(500)),
      oracleDyn = Some((s, d) => GovernanceQueries.captureRecaptureOracleSql(
        Stats.parquetRowCount(s, s"$d/embeddings.parquet")))),

    // Mutual information between declared language and source (exact,
    // from the registry-squared contingency table) plus the marginal
    // entropies and min-normalized NMI — the dependence STRENGTH
    // readout in information units that completes the association
    // family: q266's chi-square answers "is the dependence
    // significant", Cramér's V gives a [0,1] effect size, q202's IV
    // scores features against ONE binary label; MI is the
    // model-agnostic quantity that transfers to mixture design
    // ("knowing the source gives X nats about language" — how much
    // per-source language balancing can matter at all). Exactness:
    // each cell/margin term is count · floor(ln(ratio)·1e9) with the
    // ratio formed as EXPLICIT double products before one ln (q121
    // PMI convention — no int64 product overflow); one div by T at
    // the end; NMI one ppm div, zero-entropy corner guarded the same
    // CASE in both engines. Scale shape: ONE map-side-combined
    // (lang, source) agg collapses the corpus; margins are windows
    // over the registry² frame; the final agg is 1-row.
    Q("q292_mutual_information", (s, d) => {
      import s.implicits._
      val cells = t(s, d, "documents")
        .groupBy($"lang", $"source").agg(count(lit(1)).as("c"))
      val wL = Window.partitionBy($"lang")
      val wS = Window.partitionBy($"source")
      val tot = cells.agg(sum($"c").as("tt"))
      val mi = cells
        .withColumn("r", sum($"c").over(wL))
        .withColumn("cl", sum($"c").over(wS))
        .crossJoin(broadcast(tot))
        .select($"c", $"r", $"cl", $"tt",
          ($"c" * expr("""cast(floor(ln((cast(c as double) * cast(tt as double))
            / (cast(r as double) * cast(cl as double))) * 1000000000)
            as bigint)""")).as("mi_term"))
        .agg(max($"tt").as("tt"), count(lit(1)).as("n_cells"),
          sum($"mi_term").as("mi_sum"))
      val hx = t(s, d, "documents").groupBy($"lang")
        .agg(count(lit(1)).as("r"))
        .agg(sum($"r").as("t1"), sum($"r" *
          expr("cast(floor(ln(cast(r as double)) * 1000000000) as bigint)"))
          .as("hr_sum"))
      val hy = t(s, d, "documents").groupBy($"source")
        .agg(count(lit(1)).as("cl"))
        .agg(sum($"cl").as("t2"), sum($"cl" *
          expr("cast(floor(ln(cast(cl as double)) * 1000000000) as bigint)"))
          .as("hc_sum"))
      mi.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
        .select($"tt", $"n_cells",
          expr("mi_sum div tt").as("mi_nano"),
          expr("""cast(floor(ln(cast(tt as double)) * 1000000000) as bigint)
            - hr_sum div tt""").as("h_lang_nano"),
          expr("""cast(floor(ln(cast(tt as double)) * 1000000000) as bigint)
            - hc_sum div tt""").as("h_source_nano"))
        .select($"tt", $"n_cells", $"mi_nano", $"h_lang_nano",
          $"h_source_nano",
          expr("""CASE WHEN least(h_lang_nano, h_source_nano) <= 0 THEN 0
            ELSE (mi_nano * 1000000) div least(h_lang_nano, h_source_nano)
            END""").as("nmi_ppm"))
    }, Some("""
      WITH cells AS (
        SELECT lang, source, count(*) AS c
        FROM documents GROUP BY 1, 2),
      e AS (
        SELECT c, sum(c) OVER (PARTITION BY lang) AS r,
          sum(c) OVER (PARTITION BY source) AS cl,
          sum(c) OVER () AS tt
        FROM cells),
      mi AS (
        SELECT max(tt) AS tt, count(*) AS n_cells,
          sum(c * CAST(floor(ln((CAST(c AS DOUBLE) * CAST(tt AS DOUBLE))
            / (CAST(r AS DOUBLE) * CAST(cl AS DOUBLE))) * 1000000000)
            AS BIGINT)) AS mi_sum
        FROM e),
      hx AS (
        SELECT sum(r * CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000000)
            AS BIGINT)) AS hr_sum
        FROM (SELECT count(*) AS r FROM documents GROUP BY lang)),
      hy AS (
        SELECT sum(cl * CAST(floor(ln(CAST(cl AS DOUBLE)) * 1000000000)
            AS BIGINT)) AS hc_sum
        FROM (SELECT count(*) AS cl FROM documents GROUP BY source)),
      f AS (
        SELECT tt, n_cells, mi_sum // tt AS mi_nano,
          CAST(floor(ln(CAST(tt AS DOUBLE)) * 1000000000) AS BIGINT)
            - hr_sum // tt AS h_lang_nano,
          CAST(floor(ln(CAST(tt AS DOUBLE)) * 1000000000) AS BIGINT)
            - hc_sum // tt AS h_source_nano
        FROM mi CROSS JOIN hx CROSS JOIN hy)
      SELECT CAST(tt AS BIGINT) AS tt, CAST(n_cells AS BIGINT) AS n_cells,
        CAST(mi_nano AS BIGINT) AS mi_nano,
        CAST(h_lang_nano AS BIGINT) AS h_lang_nano,
        CAST(h_source_nano AS BIGINT) AS h_source_nano,
        CAST(CASE WHEN least(h_lang_nano, h_source_nano) <= 0 THEN 0
          ELSE (mi_nano * 1000000) // least(h_lang_nano, h_source_nano)
          END AS BIGINT) AS nmi_ppm
      FROM f""")),

    // Isotonic (PAV) calibration of the quality forecast — the
    // monotone-regression repair of q176's calibration curve, computed
    // EXACTLY via the minimax closed form iso(k) = max_{i<=k}
    // min_{j>=k} wavg(bins i..j): q176 SHOWS the miscalibration,
    // q252 decomposes the Brier score, THIS produces the corrected
    // monotone mapping a downstream thresholder would actually apply
    // (the sklearn-isotonic / Zadrozny-Elkan step, which Spark has no
    // operator for). The minimax construction is order-free — no
    // sequential pool-adjacent scan — so it distributes trivially.
    // Exactness: interval averages are ppm floor divisions of exact
    // integer (successes, count) interval sums; min/max over them are
    // exact; the result is monotone by construction regardless of
    // floor noise. Scale shape: the corpus collapses to the <=10-row
    // decile frame in ONE map-side-combined agg; the 55-interval
    // triangle, the minimax joins, and the rollups are all
    // constant-size frames.
    Q("q299_isotonic_calibration", (s, d) => {
      import s.implicits._
      val bins = t(s, d, "documents")
        .select($"doc_id",
          floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("qm"))
        .withColumn("label",
          when(CorpusOps.hashMix($"doc_id", 1000L) < $"qm", 1L)
            .otherwise(0L))
        .withColumn("decile", least(expr("qm div 100"), lit(9L)))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n"), sum($"label").as("k"))
        .persist()
      val keys = bins.select($"decile".as("i"))
        .crossJoin(bins.select($"decile".as("j")))
        .filter($"i" <= $"j")
      val iv = keys.join(bins, $"decile".between($"i", $"j"))
        .groupBy($"i", $"j")
        .agg(expr("(sum(k) * 1000000) div sum(n)").as("avg_ppm"))
      bins.select($"decile".as("kk"), $"n", $"k")
        .join(iv, $"i" <= $"kk" && $"j" >= $"kk")
        .groupBy($"kk", $"n", $"k", $"i").agg(min($"avg_ppm").as("mn"))
        .groupBy($"kk", $"n", $"k").agg(max($"mn").as("iso_ppm"))
        .select($"kk".as("decile"), $"n",
          expr("(k * 1000000) div n").as("raw_ppm"), $"iso_ppm")
    }, Some("""
      WITH q AS (
        SELECT doc_id,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS qm
        FROM documents),
      l AS (SELECT qm,
              CASE WHEN ((doc_id % 1000003) * 2654435761 + 40503) % 1000
                   < qm THEN 1 ELSE 0 END AS label,
              least(qm // 100, 9) AS decile
            FROM q),
      bins AS (SELECT decile, count(*) AS n, sum(label) AS k
               FROM l GROUP BY 1),
      keys AS (SELECT a.decile AS i, b.decile AS j
               FROM bins a, bins b WHERE a.decile <= b.decile),
      iv AS (
        SELECT keys.i, keys.j,
          (sum(t.k) * 1000000) // sum(t.n) AS avg_ppm
        FROM keys JOIN bins t ON t.decile BETWEEN keys.i AND keys.j
        GROUP BY 1, 2),
      mn AS (
        SELECT b.decile, b.n, b.k, iv.i, min(iv.avg_ppm) AS mn
        FROM bins b JOIN iv ON iv.i <= b.decile AND iv.j >= b.decile
        GROUP BY 1, 2, 3, 4)
      SELECT decile, CAST(n AS BIGINT) AS n,
        CAST((k * 1000000) // n AS BIGINT) AS raw_ppm,
        CAST(max(mn) AS BIGINT) AS iso_ppm
      FROM mn GROUP BY decile, n, k""")),

    // ROC AUC of the quality forecast against the planted label (the
    // tie-corrected rank statistic AUC = U/(n1*n0) = P(score_pos >
    // score_neg) + P(tie)/2) — the DISCRIMINATION number completing
    // the forecast-eval family: q176 shows calibration, q252
    // decomposes Brier, q299 repairs monotonicity; AUC answers "can
    // the score rank at all", the first gate before any threshold
    // discussion. Exactness: q257's DOUBLED-rank device on the
    // bounded quality-milli value grid — tied-group average rank
    // 2·cumBefore + n + 1 is ALWAYS integral in doubled units, so
    // U = (sum_pos dr - n1(n1+1)) / 2 is exact; AUC one ppm floor
    // div (int64 note: numerator*1e6 overflows past n ~ 2e6 docs —
    // rescale to permille there). Scale shape: corpus collapses to
    // the <= 1001-row (qm, n, k) grid in ONE map-side-combined agg;
    // the cum window rides the grid (q110 argument); 1-row rollup.
    Q("q302_quality_auc", (s, d) => {
      import s.implicits._
      val grid = t(s, d, "documents")
        .select($"doc_id",
          floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("qm"))
        .withColumn("label",
          when(CorpusOps.hashMix($"doc_id", 1000L) < $"qm", 1L)
            .otherwise(0L))
        .groupBy($"qm")
        .agg(count(lit(1)).as("n"), sum($"label").as("k"))
      val wQ = Window.orderBy($"qm".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.withColumn("cum", sum($"n").over(wQ))
        .select($"n", $"k", (lit(2L) * ($"cum" - $"n") + $"n" + 1L)
          .as("dr"))
        .agg(sum($"n").as("nt"), sum($"k").as("n1"),
          sum($"k" * $"dr").as("sdr"))
        .select($"n1", ($"nt" - $"n1").as("n0"),
          expr("""CASE WHEN n1 = 0 OR nt - n1 = 0 THEN 0
            ELSE ((sdr - n1 * (n1 + 1)) * 500000) div (n1 * (nt - n1))
            END""").as("auc_ppm"))
        .select($"n1", $"n0", $"auc_ppm",
          ($"auc_ppm" * 2 - 1000000L).as("gini_ppm"))
    }, Some("""
      WITH q AS (
        SELECT doc_id,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS qm
        FROM documents),
      l AS (SELECT qm,
              CASE WHEN ((doc_id % 1000003) * 2654435761 + 40503) % 1000
                   < qm THEN 1 ELSE 0 END AS label
            FROM q),
      g AS (SELECT qm, count(*) AS n, sum(label) AS k FROM l GROUP BY 1),
      c AS (
        SELECT n, k,
          2 * (sum(n) OVER (ORDER BY qm ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)
            + n + 1 AS dr
        FROM g),
      u AS (SELECT sum(n) AS nt, sum(k) AS n1, sum(k * dr) AS sdr FROM c),
      a AS (
        SELECT n1, nt - n1 AS n0,
          CASE WHEN n1 = 0 OR nt - n1 = 0 THEN 0
            ELSE ((sdr - n1 * (n1 + 1)) * 500000) // (n1 * (nt - n1))
            END AS auc_ppm
        FROM u)
      SELECT CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
        CAST(auc_ppm AS BIGINT) AS auc_ppm,
        CAST(auc_ppm * 2 - 1000000 AS BIGINT) AS gini_ppm
      FROM a""")),

    // Decision-threshold tuning over the quality-score grid (the step
    // AFTER q302 says the score can rank: sweep every achievable
    // threshold, report the best-F1 and best-Youden-J operating
    // points with their confusion masses) — the number a filtering
    // pipeline actually deploys; F1 picks the precision/recall
    // balance, J = TPR − FPR picks the calibration-free screening
    // cut. Exactness: TP/FP/FN at every threshold derive from ONE
    // cumulative pass over the value grid (exact integers); F1/J ppm
    // floor divs; both argmaxes ride (metric desc, threshold asc)
    // TOTAL orders. Scale shape: corpus → ≤1001-row grid in ONE
    // map-side-combined agg; the sweep IS the grid (no per-threshold
    // jobs — the q217 lesson); two k=1 TakeOrderedAndProject picks.
    Q("q309_threshold_tuning", (s, d) => {
      import s.implicits._
      val grid = t(s, d, "documents")
        .select($"doc_id",
          floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("qm"))
        .withColumn("label",
          when(CorpusOps.hashMix($"doc_id", 1000L) < $"qm", 1L)
            .otherwise(0L))
        .groupBy($"qm")
        .agg(count(lit(1)).as("n"), sum($"label").as("k"))
      val wQ = Window.orderBy($"qm".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = grid.agg(sum($"n").as("nt"), sum($"k").as("kt"))
      val sweep = grid
        .withColumn("cn", sum($"n").over(wQ) - $"n")
        .withColumn("ck", sum($"k").over(wQ) - $"k")
        .crossJoin(broadcast(tot))
        .select($"qm".as("threshold"),
          ($"kt" - $"ck").as("tp"),
          ($"nt" - $"kt" - ($"cn" - $"ck")).as("fp"),
          $"ck".as("fn"), $"kt", $"nt")
        .select($"threshold", $"tp", $"fp", $"fn",
          // kt=0 (no positive labels) and 2tp+fp+fn=0 (top threshold of
          // an all-negative grid) are reachable corners — guard BOTH
          // divisions, identically to the oracle (round-10 ADVICE;
          // q302's n1=0 guard is the precedent)
          expr("""CASE WHEN 2 * tp + fp + fn = 0 THEN 0
            ELSE (2 * tp * 1000000) div (2 * tp + fp + fn)
            END""").as("f1_ppm"),
          expr("""CASE WHEN kt = 0 OR nt - kt = 0 THEN 0 ELSE
            (tp * 1000000) div kt - (fp * 1000000) div (nt - kt)
            END""").as("j_ppm"))
        .persist()
      val bestF1 = sweep.orderBy($"f1_ppm".desc, $"threshold".asc).limit(1)
        .select(lit("f1").as("criterion"), $"threshold", $"tp", $"fp",
          $"fn", $"f1_ppm", $"j_ppm")
      val bestJ = sweep.orderBy($"j_ppm".desc, $"threshold".asc).limit(1)
        .select(lit("youden_j").as("criterion"), $"threshold", $"tp",
          $"fp", $"fn", $"f1_ppm", $"j_ppm")
      bestF1.unionAll(bestJ)
    }, Some("""
      WITH q AS (
        SELECT doc_id,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS qm
        FROM documents),
      l AS (SELECT qm,
              CASE WHEN ((doc_id % 1000003) * 2654435761 + 40503) % 1000
                   < qm THEN 1 ELSE 0 END AS label
            FROM q),
      g AS (SELECT qm, count(*) AS n, sum(label) AS k FROM l GROUP BY 1),
      tot AS (SELECT sum(n) AS nt, sum(k) AS kt FROM g),
      c AS (
        SELECT qm,
          sum(n) OVER w - n AS cn, sum(k) OVER w - k AS ck
        FROM g
        WINDOW w AS (ORDER BY qm ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      sw AS (
        SELECT c.qm AS threshold, tot.kt - c.ck AS tp,
          tot.nt - tot.kt - (c.cn - c.ck) AS fp, c.ck AS fn,
          tot.kt, tot.nt
        FROM c CROSS JOIN tot),
      m AS (
        SELECT threshold, tp, fp, fn,
          CASE WHEN 2 * tp + fp + fn = 0 THEN 0
            ELSE (2 * tp * 1000000) // (2 * tp + fp + fn)
            END AS f1_ppm,
          CASE WHEN kt = 0 OR nt - kt = 0 THEN 0 ELSE
            (tp * 1000000) // kt - (fp * 1000000) // (nt - kt)
            END AS j_ppm
        FROM sw),
      bf AS (SELECT 'f1' AS criterion, threshold, tp, fp, fn, f1_ppm,
               j_ppm
             FROM m ORDER BY f1_ppm DESC, threshold ASC LIMIT 1),
      bj AS (SELECT 'youden_j' AS criterion, threshold, tp, fp, fn,
               f1_ppm, j_ppm
             FROM m ORDER BY j_ppm DESC, threshold ASC LIMIT 1),
      u AS (SELECT * FROM bf UNION ALL SELECT * FROM bj)
      SELECT criterion, CAST(threshold AS BIGINT) AS threshold,
        CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        CAST(fn AS BIGINT) AS fn, CAST(f1_ppm AS BIGINT) AS f1_ppm,
        CAST(j_ppm AS BIGINT) AS j_ppm
      FROM u""")),

    // Wilson 95% score interval for each source's positive-label rate
    // (the interval that stays inside [0,1] and behaves at k=0/k=n,
    // unlike the naive Wald ±1.96·se every dashboard mistakenly
    // ships) — the error bar a per-source release table should carry:
    // q184 bootstraps a MEAN's CI; this is the closed-form binomial
    // PROPORTION interval, exact from (k, n) alone. Exactness: with
    // z² = 3.841459 micro (q311's literal), center and half-width are
    // integer-ppm arithmetic plus ONE floor'd sqrt on an integer-fed
    // double per side (q282 convention); lo/hi clamped to [0, 1e6]
    // identically. Scale shape: ONE map-side-combined (source) agg;
    // everything after is registry-sized row-local math.
    Q("q313_wilson_interval", (s, d) => {
      import s.implicits._
      val z2 = 3841459L // 1.959964^2 in micro
      val g = t(s, d, "documents")
        .select($"doc_id", $"source",
          floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("qm"))
        .withColumn("label",
          when(CorpusOps.hashMix($"doc_id", 1000L) < $"qm", 1L)
            .otherwise(0L))
        .groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"label").as("k"))
      // Wilson: (k + z²/2) / (n + z²) ± z·sqrt(k(n−k)/n + z²/4)/(n + z²)
      // in ppm: denom_u = n·1e6 + z2; center/halfwidth scaled by 1e6.
      g.select($"source", $"n", $"k",
          expr("(k * 1000000) div n").as("rate_ppm"),
          expr(s"""((k * 1000000 + $z2 div 2) * 1000000)
            div (n * 1000000 + $z2)""").as("center_ppm"),
          expr(s"""cast(floor(1959964.0 *
              sqrt((cast(k as double) * cast(n - k as double)
                / cast(n as double) + ${z2 / 4}.0 / 1000000.0))
              * 1000000.0 / (cast(n as double) * 1000000.0 + $z2.0))
            as bigint)""").as("hw_ppm"))
        .select($"source", $"n", $"k", $"rate_ppm",
          greatest($"center_ppm" - $"hw_ppm", lit(0L)).as("wilson_lo_ppm"),
          least($"center_ppm" + $"hw_ppm", lit(1000000L))
            .as("wilson_hi_ppm"))
    }, Some(s"""
      WITH q AS (
        SELECT doc_id, source,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\\b(the|a|of|and|to)\\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS qm
        FROM documents),
      l AS (SELECT source,
              CASE WHEN ((doc_id % 1000003) * 2654435761 + 40503) % 1000
                   < qm THEN 1 ELSE 0 END AS label
            FROM q),
      g AS (SELECT source, count(*) AS n, sum(label) AS k
            FROM l GROUP BY 1),
      w AS (
        SELECT source, n, k,
          (k * 1000000) // n AS rate_ppm,
          ((k * 1000000 + 3841459 // 2) * 1000000)
            // (n * 1000000 + 3841459) AS center_ppm,
          CAST(floor(1959964.0 *
              sqrt((CAST(k AS DOUBLE) * CAST(n - k AS DOUBLE)
                / CAST(n AS DOUBLE) + ${3841459L / 4}.0 / 1000000.0))
              * 1000000.0 / (CAST(n AS DOUBLE) * 1000000.0 + 3841459.0))
            AS BIGINT) AS hw_ppm
        FROM g)
      SELECT source, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        CAST(rate_ppm AS BIGINT) AS rate_ppm,
        CAST(greatest(center_ppm - hw_ppm, 0) AS BIGINT) AS wilson_lo_ppm,
        CAST(least(center_ppm + hw_ppm, 1000000) AS BIGINT)
          AS wilson_hi_ppm
      FROM w""")),

    // Cumulative-gains table over score deciles (what share of all
    // positives does the top-k% of the ranking capture; per-decile
    // lift vs random) — the business-facing companion to q302's AUC:
    // AUC is one number, the gains curve is the "send the top 20%"
    // decision table a campaign/filter budget is actually set
    // against. Exactness: rank deciles cut by exact integer
    // cumulative masses over the score value grid (descending — the
    // top decile is the HIGHEST scores); captures/lift integer ppm.
    // Scale shape: corpus → ≤1001-row value grid in ONE map-side-
    // combined agg; decile assignment is a 10-row literal frame
    // inequality-joined to the grid (q217 class); registry rollups.
    Q("q314_gains_table", (s, d) => {
      import s.implicits._
      val grid = t(s, d, "documents")
        .select($"doc_id",
          floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("qm"))
        .withColumn("label",
          when(CorpusOps.hashMix($"doc_id", 1000L) < $"qm", 1L)
            .otherwise(0L))
        .groupBy($"qm")
        .agg(count(lit(1)).as("n"), sum($"label").as("k"))
      val wD = Window.orderBy($"qm".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = grid.agg(sum($"n").as("nt"), sum($"k").as("kt"))
      val cum = grid
        .withColumn("cn", sum($"n").over(wD))
        .withColumn("ck", sum($"k").over(wD))
        .crossJoin(broadcast(tot))
      val dec = (1L to 10L).toDF("decile")
      cum.crossJoin(broadcast(dec))
        .filter($"cn" * 10 >= $"decile" * $"nt")
        .groupBy($"decile")
        .agg(min($"cn").as("cum_n"), max($"nt").as("nt"),
          max($"kt").as("kt"))
        .join(cum.select($"cn".as("cum_n"), $"ck"), "cum_n")
        .select($"decile", $"cum_n", $"ck".as("cum_pos"),
          expr("(ck * 1000000) div kt").as("capture_ppm"),
          expr("((ck * 1000000) div kt) * 10 div decile").as("lift_permille"))
    }, Some("""
      WITH q AS (
        SELECT doc_id,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS qm
        FROM documents),
      l AS (SELECT qm,
              CASE WHEN ((doc_id % 1000003) * 2654435761 + 40503) % 1000
                   < qm THEN 1 ELSE 0 END AS label
            FROM q),
      g AS (SELECT qm, count(*) AS n, sum(label) AS k FROM l GROUP BY 1),
      tot AS (SELECT sum(n) AS nt, sum(k) AS kt FROM g),
      cum AS (
        SELECT qm,
          sum(n) OVER w AS cn, sum(k) OVER w AS ck
        FROM g
        WINDOW w AS (ORDER BY qm DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      dec AS (SELECT CAST(d AS BIGINT) AS decile
              FROM range(1, 11) t(d)),
      hit AS (
        SELECT dec.decile, min(cum.cn) AS cum_n,
          max(tot.nt) AS nt, max(tot.kt) AS kt
        FROM cum CROSS JOIN tot CROSS JOIN dec
        WHERE cum.cn * 10 >= dec.decile * tot.nt
        GROUP BY 1)
      SELECT hit.decile, CAST(hit.cum_n AS BIGINT) AS cum_n,
        CAST(cum.ck AS BIGINT) AS cum_pos,
        CAST((cum.ck * 1000000) // hit.kt AS BIGINT) AS capture_ppm,
        CAST(((cum.ck * 1000000) // hit.kt) * 10 // hit.decile
          AS BIGINT) AS lift_permille
      FROM hit JOIN cum ON cum.cn = hit.cum_n""")),

    // CUPED variance reduction for the A/B metric (Deng et al. 2013:
    // adjust each user's experiment-period value by theta times their
    // PRE-period covariate; report the variance-reduction share
    // theta²·var(x)/var(y) = rho² — the sample-size multiplier every
    // mature experimentation platform applies before q237's MDE
    // math). Split: first 7 days = pre-period covariate x, the rest =
    // metric y, per user; theta = cov(x,y)/var(x) exactly as integer
    // moment forms. Run against the q311/q264 hash arms as an A/A
    // negative control — the adjusted and raw arm gaps must both be
    // near zero while the variance shrinks. Exactness: all moments
    // n·Σxy−Σx·Σy integer forms (q281 class); theta milli one signed
    // div; reduction ppm one div; int64 headroom documented (Σxy at
    // count scale ~ 1e12 at sf0.1). Scale shape: ONE map-side-
    // combined per-user agg (x, y in one pass via conditional sums);
    // 1-row moment rollup; arm gaps ride the same frame.
    Q("q315_cuped", (s, d) => {
      import s.implicits._
      val per = t(s, d, "events")
        .select($"user_id",
          when(datediff(to_date($"ts".cast("timestamp")),
            lit("2024-01-01")) < 7, 1L).otherwise(0L).as("pre"))
        .groupBy($"user_id")
        .agg(sum($"pre").as("x"), sum(lit(1L) - $"pre").as("y"))
        .withColumn("arm", CorpusOps.hashMix($"user_id", 2L))
      val m = per.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
        sum($"x" * $"y").as("sxy"), sum($"y" * $"y").as("syy"))
        .select($"n", $"sx", $"sy",
          ($"n" * $"sxx" - $"sx" * $"sx").as("vx"),
          ($"n" * $"sxy" - $"sx" * $"sy").as("cxy"),
          ($"n" * $"syy" - $"sy" * $"sy").as("vy"))
        .select($"n",
          expr("CASE WHEN vx = 0 THEN 0 ELSE (cxy * 1000) div vx END")
            .as("theta_milli"),
          expr("""CASE WHEN vx = 0 OR vy = 0 THEN 0
            ELSE ((cxy div 1000) * (cxy div 1000) * 1000000)
              div ((vx div 1000) * (vy div 1000)) END""")
            .as("var_reduction_ppm"))
      val arms = per.groupBy($"arm")
        .agg(count(lit(1)).as("nu"), sum($"y").as("sy"),
          sum($"x").as("sx"))
      val gap = arms.agg(
        (max(when($"arm" === 0, expr("(sy * 1000) div nu")))
          - max(when($"arm" === 1, expr("(sy * 1000) div nu"))))
          .as("raw_gap_milli"))
      m.crossJoin(broadcast(gap))
        .select($"n".as("n_users"), $"theta_milli",
          $"var_reduction_ppm", $"raw_gap_milli")
    }, Some("""
      WITH per AS (
        SELECT user_id,
          sum(CASE WHEN date_diff('day', DATE '2024-01-01',
            CAST(ts AS DATE)) < 7 THEN 1 ELSE 0 END) AS x,
          sum(CASE WHEN date_diff('day', DATE '2024-01-01',
            CAST(ts AS DATE)) < 7 THEN 0 ELSE 1 END) AS y,
          ((((user_id % 1000003) + 1000003) % 1000003
            * 2654435761 + 40503) % 2 + 2) % 2 AS arm
        FROM events GROUP BY user_id),
      m AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
          count(*) * sum(x * x) - sum(x) * sum(x) AS vx,
          count(*) * sum(x * y) - sum(x) * sum(y) AS cxy,
          count(*) * sum(y * y) - sum(y) * sum(y) AS vy
        FROM per),
      r AS (
        SELECT n,
          CASE WHEN vx = 0 THEN 0 ELSE (cxy * 1000) // vx END
            AS theta_milli,
          CASE WHEN vx = 0 OR vy = 0 THEN 0
            ELSE ((cxy // 1000) * (cxy // 1000) * 1000000)
              // ((vx // 1000) * (vy // 1000)) END AS var_reduction_ppm
        FROM m),
      arms AS (
        SELECT arm, count(*) AS nu, sum(y) AS sy FROM per GROUP BY 1),
      gap AS (
        SELECT max(CASE WHEN arm = 0 THEN (sy * 1000) // nu END)
          - max(CASE WHEN arm = 1 THEN (sy * 1000) // nu END)
          AS raw_gap_milli
        FROM arms)
      SELECT CAST(n AS BIGINT) AS n_users,
        CAST(theta_milli AS BIGINT) AS theta_milli,
        CAST(var_reduction_ppm AS BIGINT) AS var_reduction_ppm,
        CAST(raw_gap_milli AS BIGINT) AS raw_gap_milli
      FROM r CROSS JOIN gap""")),

    // Gini decision stump on document length (best single binary
    // split n_chars <= t for the quality label, by weighted Gini
    // impurity — the CART building block and the NUMERIC-feature
    // answer the categorical family can't give: q202's IV and q292's
    // MI bin or enumerate category values; a stump finds the exact
    // cut point). Weighted Gini after a split collapses to
    // sum_sides 2·k_s·(n_s−k_s)/(n·n_s) — exact integer numerators,
    // one ppm floor div per side. Exactness: all candidate cuts come
    // from ONE cumulative pass over the length value grid; argmin
    // rides the (impurity asc, threshold asc) total order. Scale
    // shape: corpus → bounded length grid in ONE map-side-combined
    // agg (q110 argument); the sweep IS the grid; k=1
    // TakeOrderedAndProject.
    Q("q319_gini_stump", (s, d) => {
      import s.implicits._
      val grid = t(s, d, "documents")
        .select($"doc_id", $"n_chars".cast("long").as("v"),
          floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("qm"))
        .withColumn("label",
          when(CorpusOps.hashMix($"doc_id", 1000L) < $"qm", 1L)
            .otherwise(0L))
        .groupBy($"v")
        .agg(count(lit(1)).as("n"), sum($"label").as("k"))
      val wV = Window.orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = grid.agg(sum($"n").as("nt"), sum($"k").as("kt"))
      grid
        .withColumn("nl", sum($"n").over(wV))
        .withColumn("kl", sum($"k").over(wV))
        .crossJoin(broadcast(tot))
        .filter($"nl" < $"nt") // both sides non-empty
        .select($"v".as("threshold"), $"nl", ($"nt" - $"nl").as("nr"),
          $"kl", ($"kt" - $"kl").as("kr"), $"nt", $"kt")
        .select($"threshold", $"nl", $"nr",
          (expr("(2 * kl * (nl - kl) * 1000000) div (nt * nl)") +
            expr("(2 * kr * (nr - kr) * 1000000) div (nt * nr)"))
            .as("split_gini_ppm"),
          expr("(2 * kt * (nt - kt) * 1000000) div (nt * nt)")
            .as("parent_gini_ppm"))
        .orderBy($"split_gini_ppm".asc, $"threshold".asc).limit(1)
        .select($"threshold", $"nl", $"nr", $"parent_gini_ppm",
          $"split_gini_ppm",
          ($"parent_gini_ppm" - $"split_gini_ppm").as("reduction_ppm"))
    }, Some("""
      WITH q AS (
        SELECT doc_id, n_chars AS v,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS qm
        FROM documents),
      l AS (SELECT v,
              CASE WHEN ((doc_id % 1000003) * 2654435761 + 40503) % 1000
                   < qm THEN 1 ELSE 0 END AS label
            FROM q),
      g AS (SELECT v, count(*) AS n, sum(label) AS k FROM l GROUP BY 1),
      tot AS (SELECT sum(n) AS nt, sum(k) AS kt FROM g),
      c AS (
        SELECT v,
          sum(n) OVER w AS nl, sum(k) OVER w AS kl
        FROM g
        WINDOW w AS (ORDER BY v ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      sw AS (
        SELECT c.v AS threshold, c.nl, tot.nt - c.nl AS nr, c.kl,
          tot.kt - c.kl AS kr, tot.nt, tot.kt
        FROM c CROSS JOIN tot WHERE c.nl < tot.nt),
      m AS (
        SELECT threshold, nl, nr,
          (2 * kl * (nl - kl) * 1000000) // (nt * nl)
            + (2 * kr * (nr - kr) * 1000000) // (nt * nr)
            AS split_gini_ppm,
          (2 * kt * (nt - kt) * 1000000) // (nt * nt) AS parent_gini_ppm
        FROM sw)
      SELECT CAST(threshold AS BIGINT) AS threshold,
        CAST(nl AS BIGINT) AS nl, CAST(nr AS BIGINT) AS nr,
        CAST(parent_gini_ppm AS BIGINT) AS parent_gini_ppm,
        CAST(split_gini_ppm AS BIGINT) AS split_gini_ppm,
        CAST(parent_gini_ppm - split_gini_ppm AS BIGINT) AS reduction_ppm
      FROM m ORDER BY split_gini_ppm ASC, threshold ASC LIMIT 1""")),

    // Calibration slope and intercept (weak-calibration test: OLS of
    // the observed log-odds on the predicted log-odds over the decile
    // frame — slope 1 and intercept 0 is perfect weak calibration;
    // slope < 1 says the score is overconfident at the extremes, an
    // intercept shift says the base rate moved; the clinical-ML
    // standard companion to q176's curve, q252's decomposition and
    // q299's repair, and the cheapest Platt-style recalibration: the
    // fitted (a, b) IS the corrective map). Exactness: logits are
    // floor(ln(odds)·1e6) on integer-fed ratios (MICRO, not nano —
    // the OLS cross-products must stay inside int64 over 10 rows);
    // degenerate deciles (k=0 or k=n) excluded identically in both
    // engines; slope/intercept exact integer moment forms (q281).
    // Scale shape: corpus → ≤10-row decile frame in ONE map-side-
    // combined agg; everything after is 10-row math.
    Q("q320_calibration_slope", (s, d) => {
      import s.implicits._
      val bins = t(s, d, "documents")
        .select($"doc_id",
          floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("qm"))
        .withColumn("label",
          when(CorpusOps.hashMix($"doc_id", 1000L) < $"qm", 1L)
            .otherwise(0L))
        .withColumn("decile", least(expr("qm div 100"), lit(9L)))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n"), sum($"qm").as("sq"),
          sum($"label").as("k"))
        .filter($"k" > 0 && $"k" < $"n" &&
          $"sq" > 0 && $"sq" < $"n" * 1000)
      val pts = bins.select(
        expr("""cast(floor(ln(cast(sq as double)
          / (cast(n as double) * 1000.0 - cast(sq as double))) * 1000000)
          as bigint)""").as("x"),
        expr("""cast(floor(ln(cast(k as double)
          / (cast(n as double) - cast(k as double))) * 1000000)
          as bigint)""").as("y"))
      pts.agg(count(lit(1)).as("nb"), sum($"x").as("sx"),
          sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
          sum($"x" * $"y").as("sxy"))
        .select($"nb",
          expr("((nb * sxy - sx * sy) * 1000) div (nb * sxx - sx * sx)")
            .as("slope_milli"))
        .crossJoin(broadcast(pts.agg(sum($"x").as("tx"), sum($"y").as("ty"),
          count(lit(1)).as("tn"))))
        .select($"nb".as("n_bins"), $"slope_milli",
          expr("(ty * 1000 - slope_milli * tx) div (tn * 1000)")
            .as("intercept_micro"))
    }, Some("""
      WITH q AS (
        SELECT doc_id,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS qm
        FROM documents),
      l AS (SELECT qm,
              CASE WHEN ((doc_id % 1000003) * 2654435761 + 40503) % 1000
                   < qm THEN 1 ELSE 0 END AS label,
              least(qm // 100, 9) AS decile
            FROM q),
      bins AS (
        SELECT decile, count(*) AS n, sum(qm) AS sq, sum(label) AS k
        FROM l GROUP BY 1
        HAVING sum(label) > 0 AND sum(label) < count(*)
          AND sum(qm) > 0 AND sum(qm) < count(*) * 1000),
      pts AS (
        SELECT
          CAST(floor(ln(CAST(sq AS DOUBLE)
            / (CAST(n AS DOUBLE) * 1000.0 - CAST(sq AS DOUBLE)))
            * 1000000) AS BIGINT) AS x,
          CAST(floor(ln(CAST(k AS DOUBLE)
            / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) * 1000000)
            AS BIGINT) AS y
        FROM bins),
      m AS (
        SELECT count(*) AS nb, sum(x) AS sx, sum(y) AS sy,
          sum(x * x) AS sxx, sum(x * y) AS sxy
        FROM pts),
      r AS (
        SELECT nb, sx, sy,
          ((nb * sxy - sx * sy) * 1000) // (nb * sxx - sx * sx)
            AS slope_milli
        FROM m)
      SELECT CAST(nb AS BIGINT) AS n_bins,
        CAST(slope_milli AS BIGINT) AS slope_milli,
        CAST((sy * 1000 - slope_milli * sx) // (nb * 1000) AS BIGINT)
          AS intercept_micro
      FROM r""")),

    // Bloom-filter sizing advisor per source (optimal bits m =
    // −n·ln p/(ln 2)² and hash count k = (m/n)·ln 2 for three target
    // false-positive rates — the capacity-planning table behind the
    // q81 decontamination filter and every shuffle-pruning bloom
    // (q149): "this source's dedup filter costs X MiB at 0.1% FPR").
    // The ops-advisory family member (q215 salt, q216 watermark,
    // q240 join order) for membership structures. Exactness: the
    // bits-per-key and k constants are precomputed once in Scala and
    // embedded as identical integer literals (micro bpk, integer k —
    // the ndcgDiscMicro convention); m = (n·bpk) div 1e6 + 1.
    // Scale shape: ONE map-side-combined per-source count; the FPR
    // frame is a 3-row literal; output registry×3.
    Q("q321_bloom_advisor", (s, d) => {
      import s.implicits._
      val fprs = GovernanceQueries.bloomFprRows
        .toDF("fpr_label", "bpk_micro", "k_hashes")
      t(s, d, "documents")
        .groupBy($"source").agg(count(lit(1)).as("n_keys"))
        .crossJoin(broadcast(fprs))
        .select($"source", $"fpr_label", $"n_keys", $"k_hashes",
          (expr("(n_keys * bpk_micro) div 1000000") + 1L).as("m_bits"))
        .select($"source", $"fpr_label", $"n_keys", $"k_hashes",
          $"m_bits", expr("m_bits div 8192").as("m_kib"))
    }, Some(s"""
      WITH src AS (SELECT source, count(*) AS n_keys
                   FROM documents GROUP BY 1),
      fpr AS (SELECT fpr_label, CAST(bpk AS BIGINT) AS bpk_micro,
                CAST(k AS BIGINT) AS k_hashes
              FROM (VALUES ${GovernanceQueries.bloomFprRows
                .map { case (l, b, k) => s"('$l', $b, $k)" }
                .mkString(", ")}) v(fpr_label, bpk, k)),
      j AS (
        SELECT source, fpr_label, n_keys, k_hashes,
          (n_keys * bpk_micro) // 1000000 + 1 AS m_bits
        FROM src CROSS JOIN fpr)
      SELECT source, fpr_label, CAST(n_keys AS BIGINT) AS n_keys,
        k_hashes, CAST(m_bits AS BIGINT) AS m_bits,
        CAST(m_bits // 8192 AS BIGINT) AS m_kib
      FROM j""")),

    // Consistent-hashing balance audit (8 nodes × 32 virtual nodes on
    // a 2³²-point ring vs plain mod-8 — the cache/shard-placement
    // design readout: consistent hashing moves only ~1/n of keys on
    // membership change, but costs some balance; this measures HOW
    // MUCH on the real key population, per node, against the mod
    // baseline). Exactness: the 256 ring points are md5-derived
    // integers precomputed ONCE in Scala and embedded as identical
    // literals in both engines (the weights-literal convention); key
    // hashes ride the shared hv32 device; successor = min point ≥ h
    // with wraparound to the global min — pure integer comparisons.
    // Scale shape: the ring is a constant 256-row broadcast; the
    // successor lookup is one bounded inequality join + a per-doc min
    // agg; rollups are 8-row.
    Q("q324_consistent_hashing", (s, d) => {
      import s.implicits._
      val ring = GovernanceQueries.hashRing.toDF("node", "pt")
      val minPt = GovernanceQueries.hashRing.minBy(_._2)
      val hv = DedupOps.hv32FromHexSql("md5(cast(doc_id as string))")
      val keys = t(s, d, "documents")
        .select($"doc_id", expr(hv).as("h"),
          expr(s"($hv) % 8").as("mod_node"))
      val assigned = keys
        .join(broadcast(ring), $"pt" >= $"h", "left_outer")
        .groupBy($"doc_id", $"mod_node").agg(min($"pt").as("succ"))
        .join(broadcast(ring.select($"node", $"pt".as("succ"))),
          Seq("succ"), "left_outer")
        .select($"doc_id", $"mod_node",
          coalesce($"node", lit(minPt._1)).as("ring_node"))
        .persist()
      val nTot = assigned.agg(count(lit(1)).as("n"))
      val byRing = assigned.groupBy($"ring_node".as("node"))
        .agg(count(lit(1)).as("n_ring"))
      val byMod = assigned.groupBy($"mod_node".as("node"))
        .agg(count(lit(1)).as("n_mod"))
      byRing.join(byMod, Seq("node"), "full_outer")
        .crossJoin(broadcast(nTot))
        .select($"node", coalesce($"n_ring", lit(0L)).as("n_ring"),
          coalesce($"n_mod", lit(0L)).as("n_mod"),
          expr("(coalesce(n_ring, 0) * 1000000) div n").as("ring_ppm"),
          expr("(coalesce(n_mod, 0) * 1000000) div n").as("mod_ppm"))
    }, Some(s"""
      WITH ring AS (
        SELECT CAST(node AS BIGINT) AS node, CAST(pt AS BIGINT) AS pt
        FROM (VALUES ${GovernanceQueries.hashRing
          .map { case (n, p) => s"($n, $p)" }.mkString(", ")}) v(node, pt)),
      keys AS (
        SELECT doc_id,
          (${DedupQueries.hvDuckOf("CAST(doc_id AS VARCHAR)")}) AS h,
          (${DedupQueries.hvDuckOf("CAST(doc_id AS VARCHAR)")}) % 8
            AS mod_node
        FROM documents),
      succ AS (
        SELECT keys.doc_id, keys.mod_node, min(ring.pt) AS succ
        FROM keys LEFT JOIN ring ON ring.pt >= keys.h
        GROUP BY 1, 2),
      asg AS (
        SELECT succ.doc_id, succ.mod_node,
          coalesce(ring.node, ${minRingNode}) AS ring_node
        FROM succ LEFT JOIN ring ON ring.pt = succ.succ),
      nt AS (SELECT count(*) AS n FROM asg),
      br AS (SELECT ring_node AS node, count(*) AS n_ring
             FROM asg GROUP BY 1),
      bm AS (SELECT mod_node AS node, count(*) AS n_mod
             FROM asg GROUP BY 1)
      SELECT coalesce(br.node, bm.node) AS node,
        CAST(coalesce(br.n_ring, 0) AS BIGINT) AS n_ring,
        CAST(coalesce(bm.n_mod, 0) AS BIGINT) AS n_mod,
        CAST((coalesce(br.n_ring, 0) * 1000000) // nt.n AS BIGINT)
          AS ring_ppm,
        CAST((coalesce(bm.n_mod, 0) * 1000000) // nt.n AS BIGINT)
          AS mod_ppm
      FROM br FULL OUTER JOIN bm ON bm.node = br.node CROSS JOIN nt""")),

    // Rebalancing churn, 8 -> 9 nodes (the POINT of consistent
    // hashing that q324's balance table sets up: adding one node
    // moves only the keys the new node's vnode arcs capture — ~1/9
    // of them — while mod-hash reshuffles ~8/9 of everything;
    // measured here on the real key population, against the 1/9
    // ideal). Additive membership means every ring-moved key moves TO
    // the new node, so ring churn = keys owned by node 8 under the
    // 9-ring. Exactness: same literal rings + hv32 keys as q324; all
    // counts integer ppm. Scale shape: two bounded successor
    // inequality joins (256- and 288-row constant rings) + per-doc
    // min aggs; 1-row rollup.
    Q("q329_rebalance_churn", (s, d) => {
      import s.implicits._
      val hv = DedupOps.hv32FromHexSql("md5(cast(doc_id as string))")
      val keys = t(s, d, "documents")
        .select($"doc_id", expr(hv).as("h")).persist()
      def assign(ringRows: Seq[(Long, Long)], fallback: Long) = {
        val ring = ringRows.toDF("node", "pt")
        keys.join(broadcast(ring), $"pt" >= $"h", "left_outer")
          .groupBy($"doc_id", $"h").agg(min($"pt").as("succ"))
          .join(broadcast(ring.select($"node", $"pt".as("succ"))),
            Seq("succ"), "left_outer")
          .select($"doc_id", $"h",
            coalesce($"node", lit(fallback)).as("node"))
      }
      val a8 = assign(GovernanceQueries.hashRing,
        GovernanceQueries.minRingNode)
        .select($"doc_id", $"h", $"node".as("n8"))
      val a9 = assign(GovernanceQueries.hashRing9,
        GovernanceQueries.minRing9Node)
        .select($"doc_id", $"node".as("n9"))
      a8.join(a9, "doc_id")
        .select(
          when($"n8" =!= $"n9", 1L).otherwise(0L).as("ring_moved"),
          when($"h" % 8 =!= $"h" % 9, 1L).otherwise(0L).as("mod_moved"))
        .agg(count(lit(1)).as("n_keys"),
          sum($"ring_moved").as("ring_moved"),
          sum($"mod_moved").as("mod_moved"))
        .select($"n_keys", $"ring_moved", $"mod_moved",
          expr("(ring_moved * 1000000) div n_keys").as("ring_moved_ppm"),
          expr("(mod_moved * 1000000) div n_keys").as("mod_moved_ppm"),
          lit(111111L).as("ideal_ppm"))
    }, Some(s"""
      WITH ring8 AS (
        SELECT CAST(node AS BIGINT) AS node, CAST(pt AS BIGINT) AS pt
        FROM (VALUES ${GovernanceQueries.hashRing
          .map { case (n, p) => s"($n, $p)" }.mkString(", ")}) v(node, pt)),
      ring9 AS (
        SELECT CAST(node AS BIGINT) AS node, CAST(pt AS BIGINT) AS pt
        FROM (VALUES ${GovernanceQueries.hashRing9
          .map { case (n, p) => s"($n, $p)" }.mkString(", ")}) v(node, pt)),
      keys AS (
        SELECT doc_id,
          (${DedupQueries.hvDuckOf("CAST(doc_id AS VARCHAR)")}) AS h
        FROM documents),
      s8 AS (SELECT keys.doc_id, keys.h, min(ring8.pt) AS succ
             FROM keys LEFT JOIN ring8 ON ring8.pt >= keys.h
             GROUP BY 1, 2),
      a8 AS (SELECT s8.doc_id, s8.h,
               coalesce(ring8.node, ${minRingNode}) AS n8
             FROM s8 LEFT JOIN ring8 ON ring8.pt = s8.succ),
      s9 AS (SELECT keys.doc_id, min(ring9.pt) AS succ
             FROM keys LEFT JOIN ring9 ON ring9.pt >= keys.h
             GROUP BY 1),
      a9 AS (SELECT s9.doc_id,
               coalesce(ring9.node, ${minRing9Node}) AS n9
             FROM s9 LEFT JOIN ring9 ON ring9.pt = s9.succ),
      j AS (
        SELECT CASE WHEN a8.n8 <> a9.n9 THEN 1 ELSE 0 END AS ring_moved,
          CASE WHEN a8.h % 8 <> a8.h % 9 THEN 1 ELSE 0 END AS mod_moved
        FROM a8 JOIN a9 USING (doc_id))
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
        CAST(sum(ring_moved) AS BIGINT) AS ring_moved,
        CAST(sum(mod_moved) AS BIGINT) AS mod_moved,
        CAST((sum(ring_moved) * 1000000) // count(*) AS BIGINT)
          AS ring_moved_ppm,
        CAST((sum(mod_moved) * 1000000) // count(*) AS BIGINT)
          AS mod_moved_ppm,
        CAST(111111 AS BIGINT) AS ideal_ppm
      FROM j""")),

    // Difference-in-differences readout (hash arms x pre/post periods
    // on per-user daily activity: DiD = (T_post - T_pre) - (C_post -
    // C_pre), plus the parallel-trends PRE-period slope gap that
    // licenses the design — run as an A/A negative control, so DiD
    // must sit near zero and the pre-trend gap says how parallel
    // "parallel" really is on this population) — the quasi-
    // experimental capstone of the experimentation family: q174
    // one-shot, q264 A/A, q311 sequential, q315 CUPED; DiD is what
    // you run when assignment WASN'T randomized. Exactness: the four
    // cell means are integer micro (count mass over user-days); the
    // pre-slopes ride q281's integer OLS forms on the (arm, day)
    // grid. Scale shape: ONE map-side-combined (arm, period) agg +
    // ONE (arm, day) grid agg; everything after is 1-row/grid math.
    Q("q330_diff_in_diff", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select(CorpusOps.hashMix($"user_id", 2L).as("arm"),
          datediff(to_date($"ts".cast("timestamp")), lit("2024-01-01"))
            .cast("long").as("di"),
          $"user_id")
        .persist()
      val users = ev.groupBy($"arm")
        .agg(countDistinct($"user_id").as("nu"))
      val cells = ev
        .select($"arm", when($"di" < 15, 0L).otherwise(1L).as("post"))
        .groupBy($"arm", $"post").agg(count(lit(1)).as("c"))
        .join(users, "arm")
        .select($"arm", $"post",
          expr("(c * 1000000) div nu").as("mean_micro"))
      val did = cells.groupBy()
        .agg(
          (max(when($"arm" === 1 && $"post" === 1, $"mean_micro")) -
            max(when($"arm" === 1 && $"post" === 0, $"mean_micro")) -
            max(when($"arm" === 0 && $"post" === 1, $"mean_micro")) +
            max(when($"arm" === 0 && $"post" === 0, $"mean_micro")))
            .as("did_micro"))
      val pre = ev.filter($"di" < 15)
        .groupBy($"arm", $"di").agg(count(lit(1)).as("y"))
        .groupBy($"arm")
        .agg(count(lit(1)).as("n"), sum($"di").as("sx"),
          sum($"y").as("sy"), sum($"di" * $"di").as("sxx"),
          sum($"di" * $"y").as("sxy"))
        .select($"arm",
          expr("((n * sxy - sx * sy) * 1000) div (n * sxx - sx * sx)")
            .as("slope_milli"))
      val trend = pre.groupBy()
        .agg((max(when($"arm" === 1, $"slope_milli")) -
          max(when($"arm" === 0, $"slope_milli")))
          .as("pretrend_gap_milli"))
      did.crossJoin(broadcast(trend))
        .select($"did_micro", $"pretrend_gap_milli")
    }, Some("""
      WITH ev AS (
        SELECT ((((user_id % 1000003) + 1000003) % 1000003
            * 2654435761 + 40503) % 2 + 2) % 2 AS arm,
          date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
          user_id
        FROM events),
      users AS (SELECT arm, count(DISTINCT user_id) AS nu
                FROM ev GROUP BY 1),
      cells AS (
        SELECT e.arm, CASE WHEN e.di < 15 THEN 0 ELSE 1 END AS post,
          (count(*) * 1000000) // max(u.nu) AS mean_micro
        FROM ev e JOIN users u ON u.arm = e.arm
        GROUP BY 1, 2),
      did AS (
        SELECT
          max(CASE WHEN arm = 1 AND post = 1 THEN mean_micro END)
          - max(CASE WHEN arm = 1 AND post = 0 THEN mean_micro END)
          - max(CASE WHEN arm = 0 AND post = 1 THEN mean_micro END)
          + max(CASE WHEN arm = 0 AND post = 0 THEN mean_micro END)
            AS did_micro
        FROM cells),
      pg AS (SELECT arm, di, count(*) AS y FROM ev
             WHERE di < 15 GROUP BY 1, 2),
      pre AS (
        SELECT arm,
          ((count(*) * sum(di * y) - sum(di) * sum(y)) * 1000)
            // (count(*) * sum(di * di) - sum(di) * sum(di))
            AS slope_milli
        FROM pg GROUP BY 1),
      tr AS (
        SELECT max(CASE WHEN arm = 1 THEN slope_milli END)
          - max(CASE WHEN arm = 0 THEN slope_milli END)
          AS pretrend_gap_milli
        FROM pre)
      SELECT CAST(did_micro AS BIGINT) AS did_micro,
        CAST(pretrend_gap_milli AS BIGINT) AS pretrend_gap_milli
      FROM did CROSS JOIN tr""")),

    // Average precision of the quality forecast (tie-aware AP over
    // the descending score grid: at each distinct score, the
    // precision of everything at-or-above it, weighted by the
    // positives found AT that score — the PR-curve area that, unlike
    // q302's ROC AUC, does NOT reward ranking easy negatives last:
    // the eval of record for imbalanced filtering). Exactness: the
    // descending cum pass gives (cum positives, cum total) per
    // distinct score; AP_ppm = Σ k_row·prec_ppm(row) div K with
    // prec_ppm one floor div per GRID row (≤1001 of them — the
    // blocked tie-aware form, deterministic under ties by
    // construction since whole tie groups contribute atomically).
    // Scale shape: corpus → value grid in ONE map-side-combined agg;
    // cum window rides the grid (q110 argument); 1-row rollup.
    Q("q331_average_precision", (s, d) => {
      import s.implicits._
      val grid = t(s, d, "documents")
        .select($"doc_id",
          floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("qm"))
        .withColumn("label",
          when(CorpusOps.hashMix($"doc_id", 1000L) < $"qm", 1L)
            .otherwise(0L))
        .groupBy($"qm")
        .agg(count(lit(1)).as("n"), sum($"label").as("k"))
      val wD = Window.orderBy($"qm".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid
        .withColumn("cn", sum($"n").over(wD))
        .withColumn("ck", sum($"k").over(wD))
        .select($"k", ($"k" * expr("(ck * 1000000) div cn")).as("contrib"))
        .agg(sum($"k").as("n_pos"), sum($"contrib").as("csum"))
        .select($"n_pos",
          expr("""CASE WHEN n_pos = 0 THEN 0
            ELSE csum div n_pos END""").as("ap_ppm"))
    }, Some("""
      WITH q AS (
        SELECT doc_id,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS qm
        FROM documents),
      l AS (SELECT qm,
              CASE WHEN ((doc_id % 1000003) * 2654435761 + 40503) % 1000
                   < qm THEN 1 ELSE 0 END AS label
            FROM q),
      g AS (SELECT qm, count(*) AS n, sum(label) AS k FROM l GROUP BY 1),
      c AS (
        SELECT k,
          sum(n) OVER w AS cn, sum(k) OVER w AS ck
        FROM g
        WINDOW w AS (ORDER BY qm DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      a AS (SELECT sum(k) AS n_pos,
              sum(k * ((ck * 1000000) // cn)) AS csum
            FROM c)
      SELECT CAST(n_pos AS BIGINT) AS n_pos,
        CAST(CASE WHEN n_pos = 0 THEN 0 ELSE csum // n_pos END
          AS BIGINT) AS ap_ppm
      FROM a""")),

    // pass@k eval rollup (the unbiased combinatorial estimator from
    // the public code-eval literature: pass@k = 1 − C(n−c,k)/C(n,k)
    // over n samples with c correct — the POINT is that the naive
    // "fraction of tasks with a hit in the first k" is biased when
    // samples are subsampled; this form is exact): per source, mean
    // pass@1/4/8 ppm over n=16 samples per task. Each doc is a task;
    // its correct-count c derives deterministically from the quality
    // score (c = min(16, quality_milli div 60) — data-driven, engine-
    // replayable, q309's label convention). Exactness: C(n−c,k)/C(n,k)
    // evaluated as EXPLICIT falling-factorial chains (k <= 8 keeps
    // num·1e6 <= 5.2e14 — int64-safe; a zero factor appears whenever
    // n−c < k, so the ratio collapses to 0 before any negative factor
    // can contribute); ppm floors identical both engines. Scale: one
    // corpus pass, all row-local arithmetic, ONE map-side-combined
    // source agg.
    Q("q343_pass_at_k", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"source",
          floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("qm"))
        .select($"source", expr("least(16L, qm div 60)").as("c"))
        .withColumn("f", lit(16L) - $"c")
        .select($"source", $"c",
          (lit(1000000L) - expr("(f * 1000000) div 16")).as("p1"),
          (lit(1000000L) - expr(
            "(f * (f-1) * (f-2) * (f-3) * 1000000) div 43680")).as("p4"),
          (lit(1000000L) - expr(
            """(f * (f-1) * (f-2) * (f-3) * (f-4) * (f-5) * (f-6) * (f-7)
              | * 1000000) div 518918400""".stripMargin)).as("p8"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_tasks"),
          expr("sum(c) div count(1)").as("mean_correct"),
          expr("sum(p1) div count(1)").as("pass1_ppm"),
          expr("sum(p4) div count(1)").as("pass4_ppm"),
          expr("sum(p8) div count(1)").as("pass8_ppm"))
    }, Some("""
      WITH q AS (
        SELECT source,
          least(16, CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) // 60) AS c
        FROM documents),
      f AS (SELECT source, c, 16 - c AS f FROM q),
      p AS (
        SELECT source, c,
          1000000 - (f * 1000000) // 16 AS p1,
          1000000 - (f * (f-1) * (f-2) * (f-3) * 1000000) // 43680 AS p4,
          1000000 - (f * (f-1) * (f-2) * (f-3) * (f-4) * (f-5) * (f-6)
            * (f-7) * 1000000) // 518918400 AS p8
        FROM f)
      SELECT source, count(*) AS n_tasks,
        CAST(sum(c) // count(*) AS BIGINT) AS mean_correct,
        CAST(sum(p1) // count(*) AS BIGINT) AS pass1_ppm,
        CAST(sum(p4) // count(*) AS BIGINT) AS pass4_ppm,
        CAST(sum(p8) // count(*) AS BIGINT) AS pass8_ppm
      FROM p GROUP BY 1""")),

    // Benjamini-Hochberg FDR gate (the MULTIPLE-TESTING correction the
    // per-source test family — MW-U q257, chi-square q265, Wasserstein
    // q243 — has been missing: screening ~20 sources at alpha=.05 each
    // expects a false alarm per release; BH's step-up controls the
    // false-discovery RATE across the whole screen). Per source: a
    // one-sample length-anomaly statistic z² = (S_s·N − S·n_s)² /
    // (n_s·(Q·N − S²)) vs the corpus (all-integer; DECIMAL(38,0)
    // headroom for the squared term, q348 convention), a p-value from
    // the chi-square(1) critical-value LADDER embedded as identical
    // literals in both engines (normalDecileZMicro convention — no
    // runtime CDF to diverge), then the BH step-up: rank by p asc,
    // reject ranks <= max{k : p_k·m <= alpha_micro·k}. Scale: ONE
    // map-side-combined (source) agg + a 1-row corpus agg broadcast;
    // the rank/step-up windows ride the SOURCE REGISTRY (~20 rows at
    // any corpus size — the documented bounded global window).
    Q("q354_fdr_gate", (s, d) => {
      import s.implicits._
      val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val src = t(s, d, "documents")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_s"), sum($"n_chars").as("s_s"))
      val tot = t(s, d, "documents")
        .agg(count(lit(1)).as("nn"), sum($"n_chars").as("ss"),
          sum($"n_chars" * $"n_chars").as("qq"))
      val z2 = src.crossJoin(broadcast(tot))
        .select($"source", $"n_s",
          // z² in micro: (s_s·N − S·n_s)²·1e6 / (n_s·(Q·N − S²))
          // explicit floor: Spark's decimal->long cast TRUNCATES while
          // DuckDB's CAST rounds — floor() pins identical semantics
          floor(($"s_s".cast(D38) * $"nn" - $"ss".cast(D38) * $"n_s") *
            ($"s_s".cast(D38) * $"nn" - $"ss".cast(D38) * $"n_s") *
            lit(1000000L) divide
            ($"n_s".cast(D38) * ($"qq".cast(D38) * $"nn" -
              $"ss".cast(D38) * $"ss"))).cast("long").as("z2_micro"))
      // chi-square(1) upper-tail ladder (crit in micro -> p in micro)
      val p = z2.withColumn("p_micro",
        when($"z2_micro" >= 10828000L, 1000L)
          .when($"z2_micro" >= 9550000L, 2000L)
          .when($"z2_micro" >= 7879000L, 5000L)
          .when($"z2_micro" >= 6635000L, 10000L)
          .when($"z2_micro" >= 5412000L, 20000L)
          .when($"z2_micro" >= 3841000L, 50000L)
          .when($"z2_micro" >= 2706000L, 100000L)
          .when($"z2_micro" >= 1642000L, 200000L)
          .when($"z2_micro" >= 455000L, 500000L)
          .otherwise(1000000L))
      val wAll = Window.orderBy($"p_micro".asc, $"source".asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val ranked = p
        .withColumn("rk", row_number().over(
          Window.orderBy($"p_micro".asc, $"source".asc)))
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("sat",
          when($"p_micro" * $"m" <= lit(50000L) * $"rk", $"rk"))
        .withColumn("k_max", coalesce(max($"sat").over(wAll), lit(0L)))
      ranked.select($"source", $"n_s".as("n_docs"), $"z2_micro",
        $"p_micro", $"rk".cast("long").as("rank"),
        expr("(50000 * rk) div m").as("bh_cut_micro"),
        when($"rk" <= $"k_max", 1L).otherwise(0L).as("rejected"))
    }, Some("""
      WITH src AS (
        SELECT source, count(*) AS n_s, sum(n_chars) AS s_s
        FROM documents GROUP BY 1),
      tot AS (
        SELECT count(*) AS nn, sum(n_chars) AS ss,
          sum(n_chars * n_chars) AS qq
        FROM documents),
      z2 AS (
        SELECT source, n_s,
          CAST(floor((CAST(s_s AS DECIMAL(38,0)) * nn
                - CAST(ss AS DECIMAL(38,0)) * n_s) *
               (CAST(s_s AS DECIMAL(38,0)) * nn
                - CAST(ss AS DECIMAL(38,0)) * n_s) * 1000000 /
               (CAST(n_s AS DECIMAL(38,0)) *
                (CAST(qq AS DECIMAL(38,0)) * nn
                 - CAST(ss AS DECIMAL(38,0)) * ss))) AS BIGINT)
            AS z2_micro
        FROM src CROSS JOIN tot),
      p AS (
        SELECT *,
          CASE WHEN z2_micro >= 10828000 THEN 1000
               WHEN z2_micro >= 9550000 THEN 2000
               WHEN z2_micro >= 7879000 THEN 5000
               WHEN z2_micro >= 6635000 THEN 10000
               WHEN z2_micro >= 5412000 THEN 20000
               WHEN z2_micro >= 3841000 THEN 50000
               WHEN z2_micro >= 2706000 THEN 100000
               WHEN z2_micro >= 1642000 THEN 200000
               WHEN z2_micro >= 455000 THEN 500000
               ELSE 1000000 END AS p_micro
        FROM z2),
      rkd AS (
        SELECT *,
          row_number() OVER (ORDER BY p_micro ASC, source ASC) AS rk,
          count(*) OVER () AS m
        FROM p),
      km AS (
        SELECT *, coalesce(max(CASE WHEN p_micro * m <= 50000 * rk
                                    THEN rk END) OVER (), 0) AS k_max
        FROM rkd)
      SELECT source, CAST(n_s AS BIGINT) AS n_docs, z2_micro,
        CAST(p_micro AS BIGINT) AS p_micro, CAST(rk AS BIGINT) AS rank,
        CAST(50000 * rk // m AS BIGINT) AS bh_cut_micro,
        CAST(CASE WHEN rk <= k_max THEN 1 ELSE 0 END AS BIGINT)
          AS rejected
      FROM km""")),

    // k-anonymity generalization ladder: the privacy DESIGN readout
    // beside q146's single-level suppression and q247's l-diversity —
    // the same corpus bucketed under three quasi-identifier
    // generalization levels (G0 = (lang, source, char-centile-bucket),
    // G1 = (lang, source), G2 = (lang)), reporting per level the group
    // count, the minimum group size (the k in k-anonymity), and the
    // record mass in groups below k = 5 (the re-identifiable ppm a
    // release policy must suppress). Climbing the ladder trades
    // utility (coarser buckets) for smaller suppression mass — the 3
    // rows ARE the trade-off curve. Exactness: pure integer counting.
    // Scale shape: ONE map-side-combined agg on the finest key; the
    // coarser levels re-aggregate the G0 GROUP table (registry-sized:
    // langs x sources x 10), not the corpus — the rollup trick without
    // grouping-sets' null-marker rows; final rollups are 3 one-row
    // aggs unioned.
    Q("q362_kanon_ladder", (s, d) => {
      import s.implicits._
      val g0 = t(s, d, "documents")
        .select($"lang", $"source",
          least(expr("n_chars div 100"), lit(9L)).as("lb"))
        .groupBy($"lang", $"source", $"lb")
        .agg(count(lit(1)).as("k")).persist()
      val g1 = g0.groupBy($"lang", $"source").agg(sum($"k").as("k"))
      val g2 = g0.groupBy($"lang").agg(sum($"k").as("k"))
      def lvl(name: String, g: org.apache.spark.sql.DataFrame) =
        g.agg(count(lit(1)).cast("long").as("n_groups"),
          min($"k").cast("long").as("k_min"),
          sum($"k").cast("long").as("n_docs"),
          sum(when($"k" < 5, $"k").otherwise(0L)).cast("long")
            .as("n_below5"))
          .select(lit(name).as("level"), $"n_groups", $"k_min",
            $"n_below5",
            expr("(n_below5 * 1000000) div n_docs").as("below5_ppm"))
      lvl("G0", g0).unionAll(lvl("G1", g1)).unionAll(lvl("G2", g2))
    }, Some("""
      WITH g0 AS (
        SELECT lang, source, least(n_chars // 100, 9) AS lb,
          count(*) AS k
        FROM documents GROUP BY 1, 2, 3),
      g1 AS (SELECT lang, source, sum(k) AS k FROM g0 GROUP BY 1, 2),
      g2 AS (SELECT lang, sum(k) AS k FROM g0 GROUP BY 1)
      SELECT 'G0' AS level, CAST(count(*) AS BIGINT) AS n_groups,
        CAST(min(k) AS BIGINT) AS k_min,
        CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
          AS n_below5,
        CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) * 1000000
          // sum(k) AS BIGINT) AS below5_ppm
      FROM g0
      UNION ALL
      SELECT 'G1', CAST(count(*) AS BIGINT), CAST(min(k) AS BIGINT),
        CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT),
        CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) * 1000000
          // sum(k) AS BIGINT)
      FROM g1
      UNION ALL
      SELECT 'G2', CAST(count(*) AS BIGINT), CAST(min(k) AS BIGINT),
        CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT),
        CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) * 1000000
          // sum(k) AS BIGINT)
      FROM g2""")),
  )

  /** Poisson(1) inverse-CDF thresholds on a 20-bit uniform, computed
    * once here and embedded as identical integer literals in BOTH
    * engines (q165's precomputed-literal pattern): t(k) =
    * floor(CDF_Pois(1)(k) * 2^20) for k = 0..4; u < t(k) => weight k,
    * else 5 (truncated tail). */
  private val poisT: Seq[Long] = {
    val e = math.exp(-1.0)
    Seq(1.0, 2.0, 2.5, 8.0 / 3, 65.0 / 24)
      .map(c => math.floor(c * e * 1048576).toLong)
  }

  /** q324's consistent-hash ring: 8 nodes x 32 virtual nodes, point =
    * hv32(md5("n<i>:v<j>")) — the same positional-md5 parse as the
    * query-side hv32 device, computed once here so both engines
    * consume identical (node, point) literals. */
  private[operators] val hashRing: Seq[(Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    for (i <- 0L until 8L; j <- 0L until 32L) yield {
      val hex = md.digest(s"n$i:v$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (i, java.lang.Long.parseLong(hex.substring(0, 8), 16))
    }
  }

  /** The wraparound target: node owning the smallest ring point. */
  private[operators] def minRingNode: Long = hashRing.minBy(_._2)._1

  /** q329's 9-node ring: the SAME 8 nodes' vnode points plus node 8's
    * 32 — consistent hashing's membership change is purely additive,
    * which is exactly what the churn measurement exercises. */
  private[operators] val hashRing9: Seq[(Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val extra = (0L until 32L).map { j =>
      val hex = md.digest(s"n8:v$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (8L, java.lang.Long.parseLong(hex.substring(0, 8), 16))
    }
    hashRing ++ extra
  }

  private[operators] def minRing9Node: Long = hashRing9.minBy(_._2)._1

  /** q321's Bloom sizing constants, precomputed once so both engines
    * consume identical integer literals: bits-per-key micro =
    * floor(−ln p/(ln 2)² · 1e6), k = round((bits/key)·ln 2). */
  private[operators] val bloomFprRows: Seq[(String, Long, Long)] = {
    val ln2sq = math.log(2.0) * math.log(2.0)
    Seq("p0.1pct" -> 0.001, "p1pct" -> 0.01, "p5pct" -> 0.05).map {
      case (label, p) =>
        val bpk = -math.log(p) / ln2sq
        (label, math.floor(bpk * 1e6).toLong,
          math.round(bpk * math.log(2.0)))
    }
  }

  /** q290's oracle: Chapman capture-recapture over q69's two detector
    * pair sets — the ensemble SQL (which replays the banded simhash
    * self-join and the seeded-LSH candidate join exactly) runs as a
    * subquery; everything after is 1-row integer arithmetic. Sized by
    * the live embeddings row count via oracleDyn (q69 convention). */
  private[operators] def captureRecaptureOracleSql(n: Long): String =
    s"""WITH agg AS (
       |  SELECT
       |    sum(CASE WHEN by_text THEN 1 ELSE 0 END) AS n_text,
       |    sum(CASE WHEN by_embedding THEN 1 ELSE 0 END) AS n_emb,
       |    sum(CASE WHEN by_both THEN 1 ELSE 0 END) AS n_both,
       |    count(*) AS n_union
       |  FROM (${CorpusQueries.ensembleOracleSql(n)}) p),
       |c AS (
       |  SELECT *,
       |    ((n_text + 1) * (n_emb + 1)) // (n_both + 1) - 1 AS chapman_est
       |  FROM agg)
       |SELECT CAST(n_text AS BIGINT) AS n_text,
       |  CAST(n_emb AS BIGINT) AS n_emb,
       |  CAST(n_both AS BIGINT) AS n_both,
       |  CAST(n_union AS BIGINT) AS n_union,
       |  CAST(chapman_est AS BIGINT) AS chapman_est,
       |  CAST(CASE WHEN chapman_est <= 0 THEN 1000000
       |    ELSE (n_text * 1000000) // chapman_est END AS BIGINT)
       |    AS cov_text_ppm,
       |  CAST(CASE WHEN chapman_est <= 0 THEN 1000000
       |    ELSE (n_emb * 1000000) // chapman_est END AS BIGINT)
       |    AS cov_emb_ppm
       |FROM c""".stripMargin
}
