package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.{Q, QueryModule}
import graft.catalog.Tables.t

/** Text-cleaning / normalization operators (SURVEY.md §2.12 X96-X100) —
  * the pre-filter passes a large-scale training-data pipeline runs before
  * anything is hashed, deduplicated, or sampled: paragraph-level exact
  * dedup, Unicode NFC normalization, script composition, character-
  * distribution entropy, and URL host policy filtering.
  *
  * Scale shape: q126 is two linear key-partitioned shuffles (paragraph
  * fingerprint, then doc); everything else is row-local expression work
  * inside whole-stage codegen plus at most a small aggregation. No
  * broadcast carries corpus-derived data.
  */
object CleaningQueries extends QueryModule {


  def qs: Seq[Q] = Seq(

    // paragraph-level exact dedup (the CCNet/RefinedWeb pre-pass): split
    // each doc into fixed 25-token paragraphs, fingerprint each, keep only
    // the first occurrence corpus-wide ((doc_id, para_id) order), report
    // per-doc retention. The keeper choice is a row_number window
    // PARTITIONED by fingerprint — bounded per duplicate group, never
    // global — and both remaining shuffles (fp window, per-doc agg) are
    // linear in the paragraph count. At 100 TB this is the exact shape
    // that runs: fingerprints partition uniformly (md5), no side is
    // collected or broadcast anywhere.
    Q("q126_paragraph_dedup", (s, d) => {
      import s.implicits._
      // round-16: paragraph assembly is row-local (para k =
      // slice(toks, k*25+1, 25) — the q65/q132 chunking rule), so the
      // old token explode + (doc, para) re-agg exchange is gone; the
      // fp keeper window below is the first (and only corpus) shuffle.
      val paras = t(s, d, "documents")
        .select($"doc_id", TextOps.tokens($"text").as("__toks"))
        .select($"doc_id", posexplode(TextOps.chunks($"__toks", 25, 25)(ck =>
          struct(size(ck).as("n"), md5(array_join(ck, " ")).as("fp"))))
          .as(Seq("k", "c")))
        .select($"doc_id", $"k".cast("long").as("para_id"),
          $"c.n".cast("long").as("n_toks"), $"c.fp".as("fp"))
      val w = Window.partitionBy($"fp").orderBy($"doc_id".asc, $"para_id".asc)
      paras.withColumn("kept", row_number().over(w) === 1)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_paras"),
          sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
          sum(when($"kept", $"n_toks").otherwise(0L)).as("kt"),
          sum($"n_toks").as("tt"))
        .select($"doc_id", $"n_paras", $"n_kept",
          expr("(kt * 1000) div tt").as("kept_tok_permille"))
    }, Some("""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                 FROM documents),
      tk AS (SELECT doc_id, unnest(toks) AS tok,
               generate_subscripts(toks, 1) - 1 AS pos FROM d),
      p AS (SELECT doc_id, CAST(pos // 25 AS BIGINT) AS para_id,
              count(*) AS n_toks,
              md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
            FROM tk GROUP BY 1, 2),
      k AS (SELECT doc_id, para_id, n_toks,
              row_number() OVER (PARTITION BY fp
                                 ORDER BY doc_id ASC, para_id ASC) = 1 AS kept
            FROM p)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
        CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN kept THEN n_toks ELSE 0 END) * 1000
               // sum(n_toks) AS BIGINT) AS kept_tok_permille
      FROM k GROUP BY doc_id""")),

    // Unicode NFC normalization (custom codegen'd expression — Spark has
    // no built-in): a pipeline must canonically compose text before
    // fingerprinting, or byte-different but canonically-equal docs escape
    // dedup. The corpus is ASCII, so each doc gets a deterministic
    // decorated suffix exercising all paths: combining grave/acute
    // (compose), precomposed e-acute (already NFC), plain ASCII (no-op).
    // Row-local, zero shuffles beyond the final tiny agg-free project.
    Q("q127_nfc_normalize", (s, d) => {
      import s.implicits._
      // cases 0/1 are DECOMPOSED (base letter + combining grave/acute -
      // NFC composes them); case 2 is precomposed e-acute (already NFC)
      val suffix = when($"doc_id" % 4 === 0, lit("e\u0300"))
        .when($"doc_id" % 4 === 1, lit("e\u0301"))
        .when($"doc_id" % 4 === 2, lit("\u00e9"))
        .otherwise(lit("x"))
      t(s, d, "documents")
        .select($"doc_id", concat($"text", lit(" "), suffix).as("raw"))
        .select($"doc_id", $"raw",
          call_function("nfc_normalize", $"raw").as("norm"))
        .select($"doc_id",
          ($"norm" =!= $"raw").as("changed"),
          length($"raw").cast("long").as("len_raw"),
          length($"norm").cast("long").as("len_norm"),
          substring($"norm", -1, 1).as("tail_ch"))
    }, Some("""
      WITH r AS (
        SELECT doc_id,
          text || ' ' || CASE doc_id % 4
            WHEN 0 THEN 'e' || chr(768)
            WHEN 1 THEN 'e' || chr(769)
            WHEN 2 THEN chr(233)
            ELSE 'x' END AS raw
        FROM documents),
      n AS (SELECT doc_id, raw, nfc_normalize(raw) AS norm FROM r)
      SELECT doc_id, norm <> raw AS changed,
        CAST(length(raw) AS BIGINT) AS len_raw,
        CAST(length(norm) AS BIGINT) AS len_norm,
        norm[-1] AS tail_ch
      FROM n""")),

    // Unicode-script composition (language-ID's cheap precursor): count
    // Latin / Cyrillic / CJK codepoints per doc via length-difference
    // after class removal (identical formulation in both engines), pick
    // the dominant script with a fixed tie-break. The ASCII corpus gets a
    // deterministic non-Latin decoration so every branch is exercised.
    // Pure row-local regex work inside codegen.
    Q("q128_script_mix", (s, d) => {
      import s.implicits._
      val decorated = concat($"text",
        when($"doc_id" % 3 === 1, lit(" привет мир"))
          .when($"doc_id" % 3 === 2, lit(" 数据处理系统"))
          .otherwise(lit("")))
      def cnt(c: org.apache.spark.sql.Column, cls: String) =
        (length(c) - length(regexp_replace(c, cls, ""))).cast("long")
      t(s, d, "documents")
        .select($"doc_id", decorated.as("txt"))
        .select($"doc_id",
          cnt($"txt", "[A-Za-z]").as("n_latin"),
          cnt($"txt", "[Ѐ-ӿ]").as("n_cyr"),
          cnt($"txt", "[一-鿿]").as("n_cjk"))
        .withColumn("dominant",
          when($"n_latin" >= $"n_cyr" && $"n_latin" >= $"n_cjk", "latin")
            .when($"n_cyr" >= $"n_cjk", "cyrillic")
            .otherwise("cjk"))
    }, Some("""
      WITH r AS (
        SELECT doc_id,
          text || CASE doc_id % 3
            WHEN 1 THEN ' ' || chr(1087) || chr(1088) || chr(1080) || chr(1074)
                     || chr(1077) || chr(1090) || ' ' || chr(1084) || chr(1080)
                     || chr(1088)
            WHEN 2 THEN ' ' || chr(25968) || chr(25454) || chr(22788)
                     || chr(29702) || chr(31995) || chr(32479)
            ELSE '' END AS txt
        FROM documents),
      c AS (
        SELECT doc_id,
          CAST(length(txt) - length(regexp_replace(txt, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
          CAST(length(txt) - length(regexp_replace(txt, '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyr,
          CAST(length(txt) - length(regexp_replace(txt, '[\x{4E00}-\x{9FFF}]', '', 'g')) AS BIGINT) AS n_cjk
        FROM r)
      SELECT doc_id, n_latin, n_cyr, n_cjk,
        CASE WHEN n_latin >= n_cyr AND n_latin >= n_cjk THEN 'latin'
             WHEN n_cyr >= n_cjk THEN 'cyrillic'
             ELSE 'cjk' END AS dominant
      FROM c""")),

    // character-distribution entropy (gibberish / binary-junk filter):
    // one row-local pass per doc via a custom codegen'd expression — at
    // corpus scale this replaces the naive per-character explode (n_chars
    // rows through a Generate + two shuffles) with zero shuffles. Each
    // distinct-codepoint term is floor-quantized to integer nano-nats
    // BEFORE summation (the q73 scheme), so the oracle's unnest-and-group
    // formulation lands on the identical integer.
    Q("q129_char_entropy", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .filter(length($"text") > 0)
        .select($"doc_id",
          length($"text").cast("long").as("n_chars"),
          call_function("char_entropy_nano_sum", $"text").as("ent_sum"))
        .select($"doc_id", $"n_chars",
          expr("ent_sum div n_chars").as("entropy_nano"))
    }, Some("""
      WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c
        FROM documents WHERE length(text) > 0),
      tf AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
      n AS (SELECT doc_id, sum(k) AS n FROM tf GROUP BY 1),
      q AS (
        SELECT tf.doc_id,
          sum(tf.k * CAST(floor(ln(n.n * 1.0 / tf.k) * 1000000000) AS BIGINT))
            AS ent_sum,
          any_value(n.n) AS n
        FROM tf JOIN n USING (doc_id) GROUP BY 1)
      SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        CAST(ent_sum // n AS BIGINT) AS entropy_nano
      FROM q""")),

    // URL host policy filter: derive each doc's host, extract the TLD,
    // and flag blocklisted hosts. The blocklist is a static policy —
    // row-local IN-list, not a join: at 100 TB nothing is shuffled,
    // broadcast, or collected; the per-host rollup is a 5-key agg.
    Q("q130_host_blocklist", (s, d) => {
      import s.implicits._
      val host = when($"doc_id" % 5 === 0, "docs.example.com")
        .when($"doc_id" % 5 === 1, "spam.tracker.net")
        .when($"doc_id" % 5 === 2, "cdn.example.com")
        .when($"doc_id" % 5 === 3, "blog.example.org")
        .otherwise("ads.clickfarm.biz")
      val blocked = Seq("spam.tracker.net", "ads.clickfarm.biz")
      t(s, d, "documents")
        .select($"doc_id", host.as("host"))
        .select($"doc_id", $"host",
          regexp_extract($"host", "\\.([a-z]+)$", 1).as("tld"),
          $"host".isin(blocked: _*).as("is_blocked"))
        .groupBy($"host", $"tld", $"is_blocked")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"))
    }, Some("""
      WITH u AS (
        SELECT doc_id, CASE doc_id % 5
          WHEN 0 THEN 'docs.example.com'
          WHEN 1 THEN 'spam.tracker.net'
          WHEN 2 THEN 'cdn.example.com'
          WHEN 3 THEN 'blog.example.org'
          ELSE 'ads.clickfarm.biz' END AS host
        FROM documents)
      SELECT host, regexp_extract(host, '\.([a-z]+)$', 1) AS tld,
        host IN ('spam.tracker.net', 'ads.clickfarm.biz') AS is_blocked,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(min(doc_id) AS BIGINT) AS first_doc
      FROM u GROUP BY 1, 2, 3""")),

    // train/eval split-leakage audit: after the q84 deterministic hash
    // split, how many val/test docs share an EXACT content fingerprint
    // with any training doc — the contamination check every eval-prep
    // pipeline must run (a leaked eval doc inflates measured quality).
    // Shape: one distinct on the train fingerprints, one fp-keyed left
    // join (NEITHER side broadcast — both grow with the corpus), then a
    // 2-row rollup. All linear, shuffle keyed on md5 — uniform.
    Q("q131_split_leakage", (s, d) => {
      import s.implicits._
      val h = CorpusOps.hashMix($"doc_id", 1000L)
      val fps = t(s, d, "documents").select($"doc_id",
        TextOps.fingerprint($"text").as("fp"),
        when(h < 980, "train").when(h < 990, "val").otherwise("test")
          .as("split"))
      val trainFp = fps.filter($"split" === "train")
        .select($"fp").distinct().withColumn("__leak", lit(true))
      fps.filter($"split" =!= "train")
        .join(trainFp, Seq("fp"), "left_outer")
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"__leak", 1L).otherwise(0L)).as("n_leaked"))
        .select($"split", $"n_docs", $"n_leaked",
          expr("(n_leaked * 1000) div n_docs").as("leak_permille"))
    }, Some("""
      WITH f AS (
        SELECT doc_id,
          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
          CASE WHEN ((((doc_id % 1000003) + 1000003) % 1000003
                      * 2654435761 + 40503) % 1000 + 1000) % 1000 < 980
                 THEN 'train'
               WHEN ((((doc_id % 1000003) + 1000003) % 1000003
                      * 2654435761 + 40503) % 1000 + 1000) % 1000 < 990
                 THEN 'val'
               ELSE 'test' END AS split
        FROM documents),
      tr AS (SELECT DISTINCT fp FROM f WHERE split = 'train')
      SELECT f.split, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_leaked,
        CAST(sum(CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END) * 1000
               // count(*) AS BIGINT) AS leak_permille
      FROM f LEFT JOIN tr ON tr.fp = f.fp
      WHERE f.split <> 'train'
      GROUP BY 1""")),

    // overlapping stride chunking (RAG/embedding prep): size-32 chunks
    // every 16 tokens, so each token lands in (up to) two chunks and no
    // retrieval boundary can split an answer span. Round-16: chunk
    // assembly is ROW-LOCAL — chunk k is exactly slice(toks, k*16+1, 32),
    // so the old token-explode + (doc, chunk) re-agg (a corpus-sized
    // exchange of every token occurrence at 2x fan-out) is a per-row
    // transform over the token array: ZERO exchanges, same rows (chunk
    // ids 0..(size-1) div 16, n = live slice length, fp over the same
    // token order).
    Q("q132_stride_chunk", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", TextOps.tokens($"text").as("__toks"))
        .select($"doc_id", posexplode(TextOps.chunks($"__toks", 16, 32)(ck =>
          struct(size(ck).as("n"), md5(array_join(ck, " ")).as("fp"))))
          .as(Seq("k", "c")))
        .select($"doc_id", $"k".cast("long").as("chunk_id"),
          $"c.n".cast("long").as("n_tokens"), $"c.fp".as("chunk_fp"))
    }, Some("""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                 FROM documents),
      tk AS (SELECT doc_id, unnest(toks) AS tok,
               generate_subscripts(toks, 1) - 1 AS pos,
               CAST((len(toks) - 1) // 16 AS BIGINT) AS kmax
             FROM d),
      m AS (SELECT doc_id, pos, tok, kmax,
              unnest([pos // 16 - 1, pos // 16]) AS k FROM tk)
      SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        CAST(count(*) AS BIGINT) AS n_tokens,
        md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp
      FROM m
      WHERE k >= 0 AND pos < k * 16 + 32 AND k <= kmax
      GROUP BY 1, 2""")),

    // per-source Zipf decay rate (corpus-health diagnostic): the
    // rank-frequency log-log slope over each source's top-100 terms —
    // natural text sits near decay 1.0; template/boilerplate-heavy or
    // synthetic sources drift far off. Engine-exact integer scheme:
    // ln(rank)/ln(freq) are floor-quantized to MILLI units per term,
    // centered as n*x - Sx (integers — no float means), and the slope
    // is the ratio of two integer sums; quantizing at milli keeps every
    // intermediate under 2^63 at any corpus size (|X*Y| <= 1.3e12 per
    // term, * 100 terms = 1.3e14). The negated (positive) decay is
    // reported so the final integer division stays sign-uniform across
    // engines. Top-100 per source rides a (source, hash-bucket)
    // prefilter window, then a <= 6400-row per-source final window —
    // the global sort never sees the vocabulary.
    Q("q133_zipf_decay", (s, d) => {
      import s.implicits._
      val tf = t(s, d, "documents")
        .select($"source", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("freq"))
      val wB = Window.partitionBy($"source", pmod(hash($"tok"), lit(64)))
        .orderBy($"freq".desc, $"tok".asc)
      val wS = Window.partitionBy($"source")
        .orderBy($"freq".desc, $"tok".asc)
      val top = tf.withColumn("rb", row_number().over(wB)).filter($"rb" <= 100)
        .withColumn("rank", row_number().over(wS)).filter($"rank" <= 100)
        .select($"source", $"rank", $"freq",
          floor(log($"rank".cast("double")) * 1000).cast("long").as("x"),
          floor(log($"freq".cast("double")) * 1000).cast("long").as("y"))
      val wA = Window.partitionBy($"source")
      top
        .withColumn("n", count(lit(1)).over(wA))
        .withColumn("sx", sum($"x").over(wA))
        .withColumn("sy", sum($"y").over(wA))
        .select($"source",
          $"n", ($"n" * $"x" - $"sx").as("cx"), ($"n" * $"y" - $"sy").as("cy"))
        .groupBy($"source")
        .agg(max($"n").cast("long").as("n_terms"),
          sum(-$"cx" * $"cy").as("num"), sum($"cx" * $"cx").as("den"))
        .select($"source", $"n_terms",
          expr("(num * 1000) div den").as("decay_milli"))
    }, Some("""
      WITH tf AS (
        SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents),
      f AS (SELECT source, tok, count(*) AS freq FROM tf GROUP BY 1, 2),
      r AS (SELECT source, freq,
              row_number() OVER (PARTITION BY source
                                 ORDER BY freq DESC, tok ASC) AS rank
            FROM f),
      q AS (SELECT source, rank, freq,
              CAST(floor(ln(rank * 1.0) * 1000) AS BIGINT) AS x,
              CAST(floor(ln(freq * 1.0) * 1000) AS BIGINT) AS y
            FROM r WHERE rank <= 100),
      c AS (SELECT source,
              count(*) OVER (PARTITION BY source) AS n,
              sum(x) OVER (PARTITION BY source) AS sx,
              sum(y) OVER (PARTITION BY source) AS sy,
              x, y
            FROM q)
      SELECT source, CAST(max(n) AS BIGINT) AS n_terms,
        CAST(sum(-(n * x - sx) * (n * y - sy)) * 1000
               // sum((n * x - sx) * (n * x - sx)) AS BIGINT) AS decay_milli
      FROM c GROUP BY source""")),

    // source duplication matrix over document LEADS (mixing diagnostic):
    // fingerprint each doc's first 10 tokens — the shared-boilerplate-
    // lead signal (mirrors, template farms, syndication) that exact
    // whole-doc hashing misses — and report, per source pair
    // (src_a <= src_b), how many lead fingerprints are duplicated
    // between them: the DIAGONAL counts leads appearing >= 2 times
    // inside one source, off-diagonal counts leads present in both.
    // Shape: one (fp, source) agg with map-side combine, then a per-fp
    // sorted source-struct array exploded into its pairs — fan-out
    // bounded by (|source registry| choose 2), a CONSTANT, not a corpus
    // dimension; one final tiny agg. No corpus self-join, nothing
    // broadcast.
    Q("q134_source_dup_matrix", (s, d) => {
      import s.implicits._
      val sfc = t(s, d, "documents")
        .select(md5(array_join(slice(TextOps.tokens($"text"), 1, 10), " "))
          .as("fp"), $"source")
        .groupBy($"fp", $"source").agg(count(lit(1)).as("n"))
      sfc.groupBy($"fp")
        .agg(sort_array(collect_list(struct($"source", $"n"))).as("srcs"))
        .select($"fp", explode(concat(
          expr("""transform(filter(srcs, x -> x.n >= 2),
            |  x -> struct(x.source as src_a, x.source as src_b))""".stripMargin),
          PairOps.pairs($"srcs", "src_a", "src_b",
            (x, y) => (x.getField("source"), y.getField("source"))))).as("p"))
        .groupBy($"p.src_a".as("src_a"), $"p.src_b".as("src_b"))
        .agg(count(lit(1)).as("n_dup_fps"))
    }, Some("""
      WITH sfc AS (
        SELECT md5(array_to_string(
                 list_slice(string_split_regex(trim(text), '\s+'), 1, 10),
                 ' ')) AS fp,
               source, count(*) AS n
        FROM documents GROUP BY 1, 2)
      SELECT a.source AS src_a, b.source AS src_b,
        CAST(count(*) AS BIGINT) AS n_dup_fps
      FROM sfc a JOIN sfc b
        ON a.fp = b.fp
       AND (a.source < b.source OR (a.source = b.source AND a.n >= 2))
      GROUP BY 1, 2""")),

    // embedding-consistency audit (the CLIP-score-style filter for text
    // corpora): per source, the 5 documents whose embeddings sit furthest
    // from their source's mean direction — mislabeled/ingestion-corrupt
    // candidates. Exactness scheme: the centroid rides the q118
    // milli-quantized integer accumulation (order-independent sums, ONE
    // double division per component), and the cosine is a row-local
    // index-ascending dot product (the q37 convention both engines
    // share), rounded to 6. Scale: the centroid frame is |registry| x 64
    // — model-sized, broadcast by the planner; the doc-embedding join is
    // co-keyed on the id; bottom-5 per source rides the rank pushdown
    // (WindowGroupLimit), so no source-wide sort materializes.
    Q("q135_embedding_outliers", (s, d) => {
      import s.implicits._
      val src = t(s, d, "documents").select($"doc_id", $"source")
      val emb = t(s, d, "embeddings")
        .select($"vec_id".as("doc_id"), $"embedding".cast("array<double>").as("e"))
        .join(src, "doc_id")
      val cent = emb
        .select($"source", posexplode($"e").as(Seq("i", "comp")))
        .groupBy($"source", $"i")
        .agg(sum(floor($"comp" * 1000).cast("long")).as("sm"),
          count(lit(1)).as("n"))
        .select($"source", $"i",
          ($"sm".cast("double") / ($"n" * 1000).cast("double")).as("cv"))
        .groupBy($"source")
        .agg(array_sort(collect_list(struct($"i", $"cv"))).as("cs"))
        .select($"source", expr("transform(cs, x -> x.cv)").as("c"))
      val scored = emb.join(cent, "source")
        .select($"doc_id", $"source",
          round(call_function("dot_product", $"e", $"c") /
            (sqrt(call_function("dot_product", $"e", $"e")) *
             sqrt(call_function("dot_product", $"c", $"c"))), 6).as("cos_r"))
      val w = Window.partitionBy($"source").orderBy($"cos_r".asc, $"doc_id".asc)
      scored.withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
        .select($"source", $"rank".cast("long").as("rank"), $"doc_id", $"cos_r")
    }, Some("""
      WITH emb AS (
        SELECT d.doc_id, d.source, CAST(e.embedding AS DOUBLE[]) AS e
        FROM documents d
        JOIN embeddings e ON e.vec_id = d.doc_id),
      comp AS (
        SELECT source, generate_subscripts(e, 1) - 1 AS i, unnest(e) AS comp
        FROM emb),
      cm AS (
        SELECT source, i,
          CAST(sum(CAST(floor(comp * 1000) AS BIGINT)) AS DOUBLE)
            / CAST(count(*) * 1000 AS DOUBLE) AS cv
        FROM comp GROUP BY 1, 2),
      cent AS (SELECT source, list(cv ORDER BY i) AS c FROM cm GROUP BY 1),
      scored AS (
        SELECT emb.doc_id, emb.source,
          round(
            list_sum(list_transform(range(1, 65), i -> e[i] * c[i])) /
            (sqrt(list_sum(list_transform(range(1, 65), i -> e[i] * e[i]))) *
             sqrt(list_sum(list_transform(range(1, 65), i -> c[i] * c[i])))),
            6) AS cos_r
        FROM emb JOIN cent USING (source)),
      r AS (
        SELECT source, doc_id, cos_r,
          row_number() OVER (PARTITION BY source
                             ORDER BY cos_r ASC, doc_id ASC) AS rank
        FROM scored)
      SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, cos_r
      FROM r WHERE rank <= 5""")),

    // corpus-saturation / novelty curve: in ingestion (doc_id) order,
    // what fraction of each doc's distinct trigrams has never been seen
    // in any earlier doc — the diminishing-returns signal that tells a
    // crawl when more data stops adding value. Shape: distinct
    // (doc, shingle) (map-side combine), ONE min-aggregate per shingle
    // for the first-seer, then first-owner counts re-aggregated per
    // doc and joined to per-doc sizes on the doc key — all linear,
    // map-side-combined; nothing broadcast, no windows.
    Q("q136_novelty_curve", (s, d) => {
      import s.implicits._
      // agg + doc-keyed join-back instead of a shingle-keyed join-back
      // (round-15 opt): a doc's novel count is exactly the number of
      // shingles whose min owner it is, so first-owner counts aggregate
      // per doc directly — the corpus-sized (doc, shingle) string frame
      // never re-crosses an exchange for the join (the old form
      // re-shuffled it in full on the shingle key with no partial agg);
      // both replacement aggs map-side-combine to narrow long rows and
      // meet in a doc-keyed join of per-doc frames.
      val sh = TextOps.distinctShingleRows(t(s, d, "documents"),
        "doc_id", "text")
      val szs = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
      val novel = sh.groupBy($"shingle").agg(min($"doc_id").as("first_doc"))
        .groupBy($"first_doc").agg(count(lit(1)).as("n_novel"))
      szs.join(novel, $"doc_id" === $"first_doc", "left_outer")
        .select($"doc_id", $"n_shingles",
          coalesce($"n_novel", lit(0L)).as("n_novel"),
          expr("(coalesce(n_novel, 0) * 1000) div n_shingles")
            .as("novelty_permille"))
    }, Some("""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                 FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
             FROM d),
      f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
      SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        CAST(sum(CASE WHEN sh.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT)
          AS n_novel,
        CAST(sum(CASE WHEN sh.doc_id = f.first_doc THEN 1 ELSE 0 END) * 1000
               // count(*) AS BIGINT) AS novelty_permille
      FROM sh JOIN f USING (shingle)
      GROUP BY 1""")),

    // split-composition parity (q131's sibling): after the q84 hash
    // split, does each language keep its corpus-wide share inside every
    // split? Reports per (split, lang) the in-split share and its
    // deviation from the language's global share, both in integer ppm —
    // the stratification audit run before trusting val/test metrics.
    // Two tiny aggs (splits x langs, then langs) + one lang-keyed join
    // of registry-sized frames; the corpus is touched ONCE.
    Q("q137_split_parity", (s, d) => {
      import s.implicits._
      val h = CorpusOps.hashMix($"doc_id", 1000L)
      val tagged = t(s, d, "documents").select($"lang",
        when(h < 980, "train").when(h < 990, "val").otherwise("test")
          .as("split"))
      val bySplitLang = tagged.groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n"))
      val bySplit = bySplitLang.groupBy($"split").agg(sum($"n").as("ns"))
      val byLang = bySplitLang.groupBy($"lang").agg(sum($"n").as("nl"))
      val total = byLang.agg(sum($"nl").as("nt"))
      bySplitLang.join(bySplit, "split").join(byLang, "lang").join(broadcast(total))
        .select($"split", $"lang", $"n",
          expr("(n * 1000000) div ns").as("share_ppm"),
          expr("(n * 1000000) div ns - (nl * 1000000) div nt")
            .as("dev_ppm"))
    }, Some("""
      WITH t AS (
        SELECT lang,
          CASE WHEN ((((doc_id % 1000003) + 1000003) % 1000003
                      * 2654435761 + 40503) % 1000 + 1000) % 1000 < 980
                 THEN 'train'
               WHEN ((((doc_id % 1000003) + 1000003) % 1000003
                      * 2654435761 + 40503) % 1000 + 1000) % 1000 < 990
                 THEN 'val'
               ELSE 'test' END AS split
        FROM documents),
      sl AS (SELECT split, lang, count(*) AS n FROM t GROUP BY 1, 2),
      sp AS (SELECT split, sum(n) AS ns FROM sl GROUP BY 1),
      lg AS (SELECT lang, sum(n) AS nl FROM sl GROUP BY 1),
      tt AS (SELECT sum(nl) AS nt FROM lg)
      SELECT sl.split, sl.lang, CAST(sl.n AS BIGINT) AS n,
        CAST(sl.n * 1000000 // sp.ns AS BIGINT) AS share_ppm,
        CAST(sl.n * 1000000 // sp.ns - lg.nl * 1000000 // tt.nt AS BIGINT)
          AS dev_ppm
      FROM sl JOIN sp USING (split) JOIN lg USING (lang) CROSS JOIN tt""")),

    // content-defined chunking (the rsync/LBFS/FastCDC idea on token
    // streams — q132's shift-robust sibling): a chunk boundary falls
    // AFTER any token whose md5 starts with '0' (1/16 rate, ~16-token
    // expected chunks), so inserting a sentence re-chunks only the
    // chunk it lands in, where fixed-stride chunking (q132) shifts
    // every later boundary and defeats chunk-level dedup. Reports
    // per-source chunk dedup: storage/near-dup savings the CDC layout
    // unlocks. Shape (round-16: FULLY row-local until the final
    // registry-sized agg — the old form exploded every token, ran a
    // doc-partitioned running-sum WINDOW (a corpus exchange + sort)
    // and re-aggregated on (doc, chunk) (a second corpus exchange)
    // just to rebuild contiguous slices): chunk START positions are a
    // row-local filter over the token array (position 1, or the
    // previous token's md5 starts with '0' — the same "boundary falls
    // AFTER a flagged token" rule the window's cumsum encoded), each
    // chunk is the slice between consecutive starts, fingerprinted in
    // place; the ONLY shuffle left is the map-side-combined per-source
    // rollup. The boundary test is engine-portable (md5 hex), so the
    // oracle replays the exact chunking.
    Q("q140_cdc_chunks", (s, d) => {
      import s.implicits._
      val ch = t(s, d, "documents")
        .select($"source", TextOps.tokens($"text").as("__toks"))
        .select($"source", explode(expr(
          """flatten(transform(array(__toks), tk ->
            |  flatten(transform(
            |    array(filter(sequence(1, size(tk)),
            |      i -> i = 1 or
            |           substring(md5(element_at(tk, i - 1)), 1, 1) = '0')),
            |    st -> transform(sequence(1, size(st)), j ->
            |      struct(
            |        (if(j = size(st), size(tk) + 1, element_at(st, j + 1))
            |          - element_at(st, j)) as n_toks,
            |        md5(array_join(slice(tk, element_at(st, j),
            |          if(j = size(st), size(tk) + 1, element_at(st, j + 1))
            |            - element_at(st, j)), ' ')) as fp))))))"""
            .stripMargin)).as("c"))
        .select($"source", $"c.n_toks".cast("long").as("n_toks"),
          $"c.fp".as("fp"))
      ch.groupBy($"source")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct($"fp").as("n_distinct"),
          sum($"n_toks").as("tt"))
        .select($"source", $"n_chunks", $"n_distinct",
          expr("((n_chunks - n_distinct) * 1000) div n_chunks")
            .as("dup_permille"),
          expr("(tt * 1000) div n_chunks").as("avg_len_milli"))
    }, Some("""
      WITH d AS (SELECT doc_id, source,
                   string_split_regex(trim(text), '\s+') AS toks
                 FROM documents),
      tk AS (SELECT doc_id, source, unnest(toks) AS tok,
               generate_subscripts(toks, 1) - 1 AS pos FROM d),
      bf AS (SELECT doc_id, source, tok, pos,
               CASE WHEN substring(md5(tok), 1, 1) = '0' THEN 1 ELSE 0 END AS b
             FROM tk),
      c AS (SELECT doc_id, source, pos, tok,
              sum(b) OVER (PARTITION BY doc_id ORDER BY pos ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - b AS chunk
            FROM bf),
      ch AS (SELECT source, doc_id, chunk, count(*) AS n_toks,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
             FROM c GROUP BY 1, 2, 3)
      SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
        CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
        CAST((count(*) - count(DISTINCT fp)) * 1000 // count(*) AS BIGINT)
          AS dup_permille,
        CAST(sum(n_toks) * 1000 // count(*) AS BIGINT) AS avg_len_milli
      FROM ch GROUP BY 1""")),

    // Character-4-gram redundancy (a compression-ratio proxy: 1 −
    // distinct/total 4-grams per doc, aggregated per source) — the
    // cheap LZ-style signal that catches template boilerplate and
    // looped generation q63's TOKEN-level repetition misses (character
    // n-grams see inside long pseudo-words and across token
    // boundaries; gzip-ratio filters in curation pipelines measure
    // exactly this, and distinct-gram ratio is its deterministic,
    // engine-replayable stand-in). Scale shape: one position explode
    // (len−3 rows/doc — the q31 shingle class), ONE map-side-combined
    // (doc, gram) distinct-then-count chain, then a registry-sized
    // per-source rollup. Docs under 4 chars are excluded in BOTH
    // engines (no gram exists; Spark's sequence() would otherwise
    // descend). Exactness: ppm integer div on non-negative counts.
    Q("q256_char_ngram_redund", (s, d) => {
      import s.implicits._
      // ROW-LOCAL distinct via the codegen'd char_ngram_distinct
      // kernel (TextNorm.scala) — the gram stream never leaves the
      // scan's whole-stage-codegen pipeline. A/B at sf0.1 (BenchOne):
      // explode + (doc, gram) shuffle pair 3.82 s; interpreted
      // transform+array_distinct HOF 2.07 s; this 0.68 s. Per-doc gram
      // sets are bounded by doc length, so the row-local set fits in
      // task memory at any corpus size.
      val perDoc = t(s, d, "documents")
        .filter(length($"text") >= 4)
        .select($"source", expr(
          """1000000 - (char_ngram_distinct(text, 4) * 1000000)
            div (length(text) - 3)""").as("red_ppm"))
      perDoc.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(red_ppm) div count(1)").as("avg_redund_ppm"),
          max($"red_ppm").as("max_redund_ppm"))
    }, Some("""
      WITH g AS (
        SELECT doc_id, source,
          unnest(list_transform(range(1, length(text) - 2),
            i -> substr(text, CAST(i AS INT), 4))) AS gram
        FROM documents WHERE length(text) >= 4),
      pd AS (
        SELECT doc_id, source, sum(k) AS total, count(*) AS dist
        FROM (SELECT doc_id, source, gram, count(*) AS k
              FROM g GROUP BY 1, 2, 3)
        GROUP BY 1, 2),
      r AS (SELECT source,
              1000000 - (dist * 1000000) // total AS red_ppm
            FROM pd)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(red_ppm) // count(*) AS BIGINT) AS avg_redund_ppm,
        CAST(max(red_ppm) AS BIGINT) AS max_redund_ppm
      FROM r GROUP BY 1""")),

    // Lognormal distribution-fit audit on per-source doc lengths: fit
    // μ, σ by moments on ln(n_chars), then compare the EMPIRICAL
    // deciles of the log-length against the fitted normal's
    // theoretical deciles (μ + σ·z_k, z_k the standard-normal decile
    // constants embedded as identical integer-micro literals in both
    // engines — the q165/poisT precomputed-literal pattern). Doc
    // lengths are canonically near-lognormal; a large max |QQ
    // deviation| flags a source whose length law is NOT (truncation,
    // mixture, bot spam) — the distribution-SHAPE gate next to q143's
    // two-sample KS (which needs a reference sample; this needs only
    // the parametric family). Exactness: l = floor-milli ln; moments
    // and deciles all-integer over the (source, l) value grid (q110
    // argument); σ is one floor'd sqrt on an integer-fed double;
    // int64 headroom to ~10^8 docs/source at the milli scale (then
    // rescale to centi, q265-class note). Scale shape: ONE (source,
    // l) agg collapses the corpus; cum windows and the 9-rank
    // threshold join ride the bounded log-length grid; registry-sized
    // rollups; the z frame is a literal local relation.
    Q("q282_lognormal_qq", (s, d) => {
      import s.implicits._
      val zMicro = CleaningQueries.normalDecileZMicro
      val grid = t(s, d, "documents")
        .select($"source",
          expr("cast(floor(ln(cast(n_chars as double)) * 1000) as long)")
            .as("l"))
        .groupBy($"source", $"l").agg(count(lit(1)).as("cnt"))
        .persist()
      val tot = grid.groupBy($"source")
        .agg(sum($"cnt").as("n"), sum($"l" * $"cnt").as("sl"),
          sum($"l" * $"l" * $"cnt").as("sll"))
        .withColumn("mu", expr("sl div n"))
        .withColumn("sigma",
          expr("cast(floor(sqrt(cast(n * sll - sl * sl as double)) / n) as long)"))
      val wS = Window.partitionBy($"source").orderBy($"l".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid.withColumn("cum", sum($"cnt").over(wS))
        .join(tot.select($"source", $"n"), "source")
      val zf = zMicro.zipWithIndex
        .map { case (z, i) => (i + 1L, z) }.toDF("k", "z")
      val emp = cum.crossJoin(broadcast(zf))
        .filter($"cum" >= expr("(n * k + 9) div 10"))
        .groupBy($"source", $"k", $"z").agg(min($"l").as("e"))
      emp.join(broadcast(tot.select($"source", $"n", $"mu", $"sigma")),
          "source")
        .withColumn("dev", $"e" - ($"mu" + expr("(sigma * z) div 1000000")))
        .groupBy($"source")
        .agg(max($"n").as("n_docs"), max($"mu").as("mu_milli"),
          max($"sigma").as("sigma_milli"),
          max(abs($"dev")).as("max_qq_dev_milli"),
          expr("sum(abs(dev)) div 9").as("mean_qq_dev_milli"))
    }, Some(s"""
      WITH g AS (
        SELECT source,
          CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1000) AS BIGINT) AS l,
          count(*) AS cnt
        FROM documents GROUP BY 1, 2),
      tot AS (
        SELECT source, sum(cnt) AS n, sum(l * cnt) AS sl,
          sum(l * l * cnt) AS sll
        FROM g GROUP BY 1),
      fit AS (
        SELECT source, n, sl // n AS mu,
          CAST(floor(sqrt(CAST(n * sll - sl * sl AS DOUBLE)) / n)
            AS BIGINT) AS sigma
        FROM tot),
      cum AS (
        SELECT g.source, g.l, t.n,
          sum(g.cnt) OVER (PARTITION BY g.source ORDER BY g.l ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM g JOIN tot t USING (source)),
      z AS (SELECT CAST(k AS BIGINT) AS k, CAST(z AS BIGINT) AS z
            FROM (VALUES ${CleaningQueries.normalDecileZMicro.zipWithIndex
              .map { case (z, i) => s"(${i + 1}, $z)" }.mkString(", ")})
              v(k, z)),
      emp AS (
        SELECT source, k, z, min(l) AS e
        FROM cum CROSS JOIN z
        WHERE cum >= (n * k + 9) // 10
        GROUP BY 1, 2, 3),
      dev AS (
        SELECT emp.source, fit.n, fit.mu, fit.sigma,
          emp.e - (fit.mu + (fit.sigma * emp.z) // 1000000) AS dev
        FROM emp JOIN fit USING (source))
      SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
        CAST(max(mu) AS BIGINT) AS mu_milli,
        CAST(max(sigma) AS BIGINT) AS sigma_milli,
        CAST(max(abs(dev)) AS BIGINT) AS max_qq_dev_milli,
        CAST(sum(abs(dev)) // 9 AS BIGINT) AS mean_qq_dev_milli
      FROM dev GROUP BY 1""")),

    // Dominant-gram profile: the MODE of each doc's character-4-gram
    // distribution (max multiplicity of any single gram) as a
    // dominance share of the gram stream — the looped-generation /
    // repeated-template signature q256's distinct-RATIO can miss: a
    // doc that is 90% diverse but loops one 20-char template scores
    // low redundancy yet has one wildly dominant gram. Per source:
    // docs where one gram covers >= 5% of the stream, plus the worst
    // dominance. Scale shape: the gram stream never leaves the scan's
    // whole-stage codegen (char_ngram_max_count row-local HashMap
    // kernel, the q256 A/B lesson — explode + shuffle is 5x); ONE
    // registry-sized rollup after. Docs under 4 codepoints excluded
    // in BOTH engines. Exactness: ppm integer division on counts.
    Q("q291_dominant_gram", (s, d) => {
      import s.implicits._
      val perDoc = t(s, d, "documents")
        .filter(length($"text") >= 4)
        .select($"source", expr(
          """(char_ngram_max_count(text, 4) * 1000000)
            div (length(text) - 3)""").as("dom_ppm"))
      perDoc.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"dom_ppm" >= 50000, 1L).otherwise(0L))
            .as("n_dominated"),
          expr("sum(dom_ppm) div count(1)").as("avg_dom_ppm"),
          max($"dom_ppm").as("max_dom_ppm"))
    }, Some("""
      WITH g AS (
        SELECT doc_id, source,
          unnest(list_transform(range(1, length(text) - 2),
            i -> substr(text, CAST(i AS INT), 4))) AS gram
        FROM documents WHERE length(text) >= 4),
      pd AS (
        SELECT doc_id, source, max(k) AS mc, sum(k) AS total
        FROM (SELECT doc_id, source, gram, count(*) AS k
              FROM g GROUP BY 1, 2, 3)
        GROUP BY 1, 2),
      r AS (SELECT source, (mc * 1000000) // total AS dom_ppm FROM pd)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN dom_ppm >= 50000 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_dominated,
        CAST(sum(dom_ppm) // count(*) AS BIGINT) AS avg_dom_ppm,
        CAST(max(dom_ppm) AS BIGINT) AS max_dom_ppm
      FROM r GROUP BY 1""")),

    // Winnowing fingerprint density per source (Schleimer et al. 2003
    // MOSS: min-hash of each w=8 window of 4-gram hashes, DISTINCT
    // kept fingerprints over window count) — the PRINCIPLED local
    // fingerprinting with the guarantee q30/q77's fixed-stride
    // sampling lacks: any shared substring of length >= k+w-1 = 11
    // yields at least one shared fingerprint, so a winnowed index has
    // NO false-negative window. Expected density 2/(w+1) ~ 222 milli;
    // a source far above it has pathologically diverse grams (random
    // text), far below it repeated content. The gram hash is the
    // shared hv32 so the SQL oracle replays the kernel exactly.
    // Scale shape: the whole algorithm is ONE row-local codegen'd
    // kernel call (winnow_distinct — gram stream, window minima, and
    // the distinct set never leave the scan); ONE registry rollup.
    Q("q327_winnowing", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .filter(length($"text") >= 11)
        .select($"source",
          expr("winnow_distinct(text, 4, 8)").as("cnt"),
          (length($"text") - 10).cast("long").as("wn"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"cnt").as("n_fingerprints"),
          sum($"wn").as("n_windows"),
          expr("(sum(cnt) * 1000) div sum(wn)").as("density_milli"))
    }, Some(s"""
      WITH ex AS (
        SELECT source, text AS s, length(text) - 3 AS ng
        FROM documents WHERE length(text) >= 11),
      hx AS (
        SELECT source, ng,
          list_transform(range(1, ng + 1),
            i -> ${DedupQueries.hvDuckOf("substr(s, CAST(i AS INT), 4)")})
            AS hs
        FROM ex),
      wn AS (
        SELECT source, ng - 7 AS wn,
          len(list_distinct(list_transform(range(1, ng - 6),
            j -> list_min(list_slice(hs, CAST(j AS INT),
              CAST(j + 7 AS INT)))))) AS cnt
        FROM hx)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(cnt) AS BIGINT) AS n_fingerprints,
        CAST(sum(wn) AS BIGINT) AS n_windows,
        CAST((sum(cnt) * 1000) // sum(wn) AS BIGINT) AS density_milli
      FROM wn GROUP BY 1""")),

    // Metadata-consistency audit for exact-duplicate groups: the SAME
    // text carried under DIFFERENT lang or source labels — the
    // metadata-quality failure exact dedup silently launders (the
    // kept doc's labels win and the disagreement disappears). Planted
    // (q116 donor convention): docs with id % 10 == 0 carry their
    // successor's text but keep their OWN lang/source labels, so every
    // plant forms a 2-doc group whose label agreement is data-driven.
    // Reports group counts and the label-disagreement split — the
    // triage number that says whether dedup survivorship can trust
    // labels at all. Scale: one row-local md5 fingerprint, ONE
    // map-side-combined fp agg (count + exact distinct over the
    // bounded lang/source registries), 1-row rollup.
    Q("q341_metadata_consistency", (s, d) => {
      import s.implicits._
      val base = t(s, d, "documents")
      val donors = base.select(($"doc_id" - 1).as("doc_id"),
        $"text".as("donor"))
      val planted = base.join(donors, Seq("doc_id"), "left")
        .select($"doc_id", $"lang", $"source",
          when($"doc_id" % 10 === 0 && $"donor".isNotNull, $"donor")
            .otherwise($"text").as("text"))
      planted.select(md5($"text").as("fp"), $"lang", $"source")
        .groupBy($"fp")
        .agg(count(lit(1)).as("n"),
          countDistinct($"lang").as("dl"),
          countDistinct($"source").as("ds"))
        .filter($"n" >= 2)
        .agg(count(lit(1)).as("n_dup_groups"),
          sum($"n").as("n_dup_docs"),
          sum(when($"dl" > 1, 1L).otherwise(0L)).as("lang_conflicts"),
          sum(when($"ds" > 1, 1L).otherwise(0L)).as("source_conflicts"),
          sum(when($"dl" > 1 || $"ds" > 1, 1L).otherwise(0L))
            .as("any_conflict"),
          max($"n").as("max_group"))
    }, Some("""
      WITH base AS (SELECT doc_id, lang, source, text FROM documents),
      pl AS (
        SELECT b.doc_id, b.lang, b.source,
          CASE WHEN b.doc_id % 10 = 0 AND d.donor IS NOT NULL
               THEN d.donor ELSE b.text END AS text
        FROM base b
        LEFT JOIN (SELECT doc_id - 1 AS doc_id, text AS donor FROM base) d
          USING (doc_id)),
      g AS (
        SELECT md5(text) AS fp, count(*) AS n,
          count(DISTINCT lang) AS dl, count(DISTINCT source) AS ds
        FROM pl GROUP BY 1 HAVING count(*) >= 2)
      SELECT CAST(count(*) AS BIGINT) AS n_dup_groups,
        CAST(sum(n) AS BIGINT) AS n_dup_docs,
        CAST(sum(CASE WHEN dl > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS lang_conflicts,
        CAST(sum(CASE WHEN ds > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS source_conflicts,
        CAST(sum(CASE WHEN dl > 1 OR ds > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS any_conflict,
        CAST(max(n) AS BIGINT) AS max_group
      FROM g""")),

    // Lexicon risk screen (the blocklist pass every production corpus
    // runs before release — toxicity/profanity/brand-safety term lists;
    // the lexicon here is a 3-term stand-in over the synthetic vocab,
    // including one zero-hit term so the absent case is exercised).
    // Per source: docs screened, docs flagged (ANY lexicon hit), flag
    // rate ppm, total hits, and the worst single doc's hit count —
    // the triage row a release gate reads. Built-ins only: the token
    // array is filtered against an array literal (no UDF, stays in
    // codegen). Scale: row-local tokenize+filter, ONE map-side-combined
    // source agg (registry-sized); the lexicon is a plan literal —
    // a 10k-term production list would ride a broadcast semi-join
    // against the exploded token frame instead (q11/q81 pattern).
    Q("q351_lexicon_screen", (s, d) => {
      import s.implicits._
      val lex = array(lit("slow"), lit("dup"), lit("crash"))
      t(s, d, "documents")
        .select($"source",
          size(filter(split(trim($"text"), "\\s+"),
            w => array_contains(lex, w))).cast("long").as("hits"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"hits" > 0, 1L).otherwise(0L)).as("n_flagged"),
          expr("sum(if(hits > 0, 1, 0)) * 1000000 div count(1)")
            .as("flag_ppm"),
          sum($"hits").as("total_hits"),
          max($"hits").as("max_doc_hits"))
    }, Some("""
      WITH h AS (
        SELECT source,
          len(list_filter(string_split_regex(trim(text), '\s+'),
            w -> list_contains(['slow', 'dup', 'crash'], w))) AS hits
        FROM documents)
      SELECT source, count(*) AS n_docs,
        CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_flagged,
        CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS flag_ppm,
        CAST(sum(hits) AS BIGINT) AS total_hits,
        CAST(max(hits) AS BIGINT) AS max_doc_hits
      FROM h GROUP BY 1""")),

    // pipeline ORDER-OF-OPERATIONS audit: sample∘dedup vs dedup∘sample.
    // The two orders are NOT equivalent — dedup-first picks the global
    // canonical (min id) per fingerprint group and then samples it
    // (losing the whole group when the canonical is unsampled), while
    // sample-first dedups among survivors (keeping the min SAMPLED
    // copy). The per-source divergence ppm is the readout that decides
    // whether a pipeline may cheaply sample early or must dedup first
    // — the canonical curation ordering question. Planted exact copies
    // (doc_id % 20 == 9 duplicates its successor — q117 convention)
    // guarantee multi-doc groups at any SF; the 80% gate is the
    // deterministic hashMix sample (engine-replayable, q56
    // convention). Exactness: group reductions are min-of-struct total
    // orders on the unique doc_id (arg_min/FILTER in the oracle).
    // Scale shape: ONE map-side-combined agg on the fingerprint, then
    // three registry-sized attribution streams unioned and re-agged —
    // no joins, no windows, linear at any corpus size.
    Q("q367_sample_dedup_order", (s, d) => {
      import s.implicits._
      val base = t(s, d, "documents").select($"doc_id", $"source", $"text")
      val donors = base.select(($"doc_id" - 1).as("doc_id"),
        $"text".as("donor"))
      val planted = base.join(donors, Seq("doc_id"), "left")
        .select($"doc_id", $"source",
          when($"doc_id" % 20 === 9 && $"donor".isNotNull, $"donor")
            .otherwise($"text").as("text"))
      val f = planted.select($"doc_id", $"source",
        md5($"text").as("fp"),
        (CorpusOps.hashMix($"doc_id", 1000L) < 800).as("ok"))
      val g = f.groupBy($"fp").agg(
        min(struct($"doc_id", $"ok", $"source")).as("a"),
        min(when($"ok", struct($"doc_id", $"source"))).as("b"))
      val sA = g.filter($"a.ok")
        .select($"a.source".as("source"), lit(1L).as("na"),
          lit(0L).as("nb"), lit(0L).as("nd"))
      val sB = g.filter($"b".isNotNull)
        .select($"b.source".as("source"), lit(0L).as("na"),
          lit(1L).as("nb"), lit(0L).as("nd"))
      val sD = g.filter(!$"a.ok" && $"b".isNotNull)
        .select($"b.source".as("source"), lit(0L).as("na"),
          lit(0L).as("nb"), lit(1L).as("nd"))
      sA.unionAll(sB).unionAll(sD)
        .groupBy($"source")
        .agg(sum($"na").cast("long").as("n_dedup_first"),
          sum($"nb").cast("long").as("n_sample_first"),
          sum($"nd").cast("long").as("n_divergent"))
        .select($"source", $"n_dedup_first", $"n_sample_first",
          $"n_divergent",
          expr("(n_divergent * 1000000) div n_sample_first")
            .as("divergent_ppm"))
    }, Some("""
      WITH base AS (SELECT doc_id, source, text FROM documents),
      pl AS (
        SELECT b.doc_id, b.source,
          CASE WHEN b.doc_id % 20 = 9 AND d.donor IS NOT NULL
               THEN d.donor ELSE b.text END AS text
        FROM base b
        LEFT JOIN (SELECT doc_id - 1 AS doc_id, text AS donor FROM base) d
          USING (doc_id)),
      f AS (
        SELECT doc_id, source, md5(text) AS fp,
          ((((doc_id % 1000003) + 1000003) % 1000003
            * 2654435761 + 40503) % 1000 + 1000) % 1000 < 800 AS ok
        FROM pl),
      g AS (
        SELECT fp,
          arg_min(ok, doc_id) AS a_ok,
          arg_min(source, doc_id) AS a_src,
          min(doc_id) FILTER (WHERE ok) AS b_id,
          arg_min(source, doc_id) FILTER (WHERE ok) AS b_src
        FROM f GROUP BY 1),
      u AS (
        SELECT a_src AS source, 1 AS na, 0 AS nb, 0 AS nd
        FROM g WHERE a_ok
        UNION ALL SELECT b_src, 0, 1, 0 FROM g WHERE b_id IS NOT NULL
        UNION ALL SELECT b_src, 0, 0, 1 FROM g
        WHERE NOT a_ok AND b_id IS NOT NULL)
      SELECT source, CAST(sum(na) AS BIGINT) AS n_dedup_first,
        CAST(sum(nb) AS BIGINT) AS n_sample_first,
        CAST(sum(nd) AS BIGINT) AS n_divergent,
        CAST(sum(nd) * 1000000 // sum(nb) AS BIGINT) AS divergent_ppm
      FROM u GROUP BY 1"""))
  )

  /** Standard-normal decile quantiles Φ⁻¹(k/10), k = 1..9, floor-
    * quantized to integer micro and embedded as identical literals in
    * BOTH engines (q165/poisT precomputed-literal pattern — no runtime
    * inverse-CDF exists in either engine to diverge). */
  private[operators] val normalDecileZMicro: Seq[Long] = Seq(
    -1281552L, -841622L, -524401L, -253348L, 0L,
    253347L, 524400L, 841621L, 1281551L)
}
