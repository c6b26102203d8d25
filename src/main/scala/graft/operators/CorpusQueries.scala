package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.catalog.{Q, QueryModule, Stats}
import graft.catalog.Tables.t

/** Corpus-curation surface: the operations a training-data pipeline runs
  * AFTER candidate generation — duplicate-cluster resolution, benchmark
  * decontamination, PII redaction, stratified source mixing, sequence
  * packing, and per-document distinctive-term extraction (tf-idf family).
  */
object CorpusQueries extends QueryModule {


  /** Per-language sampling rates (permille) for the mixing demo. */
  private val mixPermille =
    Map("en" -> 300, "de" -> 600, "fr" -> 600, "es" -> 600, "zh" -> 900)

  /** q69 oracle at embedding-corpus size n: simhash-banded text pairs
    * FULL OUTER JOIN LSH embedding pairs. The embedding arm's sizing
    * (planes/tables/probes) replays lshSizing(n) via
    * [[SimilarityQueries.lshPairCtes]], so the same check runs at any
    * SF; the text arm's simhash pipeline is scale-independent. */
  private[operators] def ensembleOracleSql(n: Long): String =
    s"""WITH sh AS (${DedupQueries.simhashDuckSql}),
       |tp AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1),
       |${SimilarityQueries.lshPairCtes(n)},
       |ep AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c JOIN v x ON x.vec_id = c.id_a
       |              JOIN v y ON y.vec_id = c.id_b
       |  WHERE list_sum(list_transform(range(1, 65),
       |          i -> x.e[i] * y.e[i])) >= 0.4)
       |SELECT coalesce(t.id_a, e.id_a) AS id_a,
       |       coalesce(t.id_b, e.id_b) AS id_b,
       |       t.id_a IS NOT NULL AS by_text,
       |       e.id_a IS NOT NULL AS by_embedding,
       |       (t.id_a IS NOT NULL AND e.id_a IS NOT NULL) AS by_both
       |FROM tp t FULL OUTER JOIN ep e
       |  ON e.id_a = t.id_a AND e.id_b = t.id_b""".stripMargin

  def qs: Seq[Q] = Seq(

    // duplicate-CLUSTER resolution: near-dup pair detection emits edges
    // (q35); a real pipeline must then keep ONE doc per connected
    // component, not per pair (A~B, B~C must collapse A,B,C together).
    // Large-star/small-star connected components: O(log n) rounds, min
    // aggregates only — then every doc gets its component id (singletons
    // are their own cluster). Oracle recomputes the same edges and takes
    // the transitive closure with a recursive CTE.
    Q("q53_dedup_clusters", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val tokRows = docs.select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      val sigs = DedupOps.simhash32FromTokenRows(tokRows, "doc_id", "tok", "simhash")
        .select($"doc_id", $"simhash")
      val edges = DedupOps.simhashPairsBanded(sigs, "doc_id", "simhash", maxHamming = 1)
        .select($"doc_a".as("a"), $"doc_b".as("b"))
      CorpusOps.componentLabels(docs.select($"doc_id"), "doc_id", edges)
        .select($"doc_id", $"cluster_id")
    }, Some(
      s"""WITH RECURSIVE sh AS (${DedupQueries.simhashDuckSql}),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |      UNION ALL SELECT doc_b, doc_a FROM pairs),
         |r(id, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, r.m FROM r JOIN e ON e.a = r.id)
         |SELECT id AS doc_id, CAST(min(m) AS BIGINT) AS cluster_id
         |FROM r GROUP BY id""".stripMargin)),

    // benchmark decontamination: flag training docs sharing >= 5 distinct
    // trigram shingles with any single benchmark doc (benchmark = the
    // deterministic doc_id % 20 == 0 slice here; in production the eval
    // suites). The benchmark shingle set is broadcast — eval suites are
    // tiny next to a 100 TB corpus, so the corpus-side scan never shuffles.
    Q("q54_decontam", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val sh = TextOps.distinctShingleRows(docs, "doc_id", "text")
      val trainSh = sh.filter($"doc_id" % 20 =!= 0)
      val benchSh = sh.filter($"doc_id" % 20 === 0)
        .withColumnRenamed("doc_id", "bench_id")
      // the benchmark side is an eval suite — tiny next to the corpus —
      // but THIS demo derives it from the corpus (5% slice), so nothing
      // is pinned: no broadcast hint, AQE measures the side's actual
      // bytes at runtime and upgrades the shuffled join to a broadcast
      // exactly when it is small (same treatment as q58's vocabulary
      // join; a 100 TB deployment sizes autoBroadcastJoinThreshold to
      // its eval suites). A runtime persist+count guard here proved
      // both redundant with AQE and bench-unstable (BASELINE round 9).
      val mx = trainSh.join(benchSh, "shingle")
        .groupBy($"doc_id", $"bench_id").agg(count(lit(1)).as("shared"))
        .groupBy($"doc_id").agg(max($"shared").as("mo"))
      docs.select($"doc_id").filter($"doc_id" % 20 =!= 0)
        .join(mx, Seq("doc_id"), "left_outer")
        .select($"doc_id",
          coalesce($"mo", lit(0L)).cast("long").as("max_overlap"),
          (coalesce($"mo", lit(0L)) >= 5).as("contaminated"))
    }, Some("""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                 FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(toks)-1, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
             FROM d),
      ov AS (
        SELECT t.doc_id, b.doc_id AS bench_id, count(*) AS shared
        FROM sh t JOIN sh b ON t.shingle = b.shingle
        WHERE t.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
        GROUP BY 1, 2),
      mx AS (SELECT doc_id, max(shared) AS mo FROM ov GROUP BY 1)
      SELECT d.doc_id, CAST(coalesce(m.mo, 0) AS BIGINT) AS max_overlap,
             coalesce(m.mo, 0) >= 5 AS contaminated
      FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
      LEFT JOIN mx m ON m.doc_id = d.doc_id""")),

    // PII redaction: the corpus has no natural PII, so the query first
    // plants deterministic contact lines (pure function of doc_id), then
    // counts and redacts them — both sides of the oracle run the same
    // construction. Row-local regexp chain, codegen'd, zero shuffles.
    Q("q55_pii_redact", (s, d) => {
      import s.implicits._
      val raw = concat(
        $"text", lit(" Contact user"), $"doc_id", lit("@mail.example.com or tel 555-0"),
        lpad(($"doc_id" * 7 % 1000).cast("string"), 3, "0"), lit("."))
      t(s, d, "documents")
        .select($"doc_id", raw.as("raw"))
        .select($"doc_id",
          CorpusOps.piiCount($"raw").as("n_pii"),
          CorpusOps.piiRedact($"raw").as("redacted"))
    }, Some(s"""
      WITH raw AS (
        SELECT doc_id,
          text || ' Contact user' || doc_id || '@mail.example.com or tel 555-0' ||
            lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || '.' AS raw
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(raw, '${CorpusOps.EmailRe}')) +
             len(regexp_extract_all(raw, '${CorpusOps.PhoneRe}')) AS BIGINT) AS n_pii,
        regexp_replace(regexp_replace(raw, '${CorpusOps.EmailRe}', '[EMAIL]', 'g'),
                       '${CorpusOps.PhoneRe}', '[PHONE]', 'g') AS redacted
      FROM raw""")),

    // deterministic stratified sampling for source/language mixing:
    // keep-decision is a pure hash of the row id, so the sample is
    // reproducible across runs/engines/partitionings (unlike RNG-based
    // df.sample). Row-local filter — no shuffle at any scale.
    Q("q56_stratified_sample", (s, d) => {
      import s.implicits._
      CorpusOps.stratifiedHashSample(
          t(s, d, "documents"), $"doc_id", $"lang", mixPermille)
        .select($"doc_id", $"lang", $"source")
    }, Some {
      val cases = mixPermille.toSeq.sortBy(_._1)
        .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")
      // pmod replay: ((x % m) + m) % m on both reductions, mirroring the
      // overflow-safe Spark mix (id reduced mod 1000003 pre-multiply)
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ((((doc_id % 1000003) + 1000003) % 1000003 * 2654435761 + 40503)
         |         % 1000 + 1000) % 1000 <
         |  CASE lang $cases ELSE 1000 END""".stripMargin
    }),

    // fixed-size per-stratum sample: exactly 25 docs per language, chosen
    // by hash-priority rank — the deterministic "reservoir" an ablation
    // pipeline uses when it needs N examples per stratum, not a rate.
    // Executes through TopKPerKeyExec (k-row buffer per stratum).
    Q("q62_reservoir_sample", (s, d) => {
      import s.implicits._
      CorpusOps.reservoirSample(t(s, d, "documents"), $"doc_id", $"lang", k = 25)
        .select($"doc_id", $"lang", $"rk")
    }, Some("""
      SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM (
        SELECT doc_id, lang,
          row_number() OVER (PARTITION BY lang ORDER BY
            ((((doc_id % 1000003) + 1000003) % 1000003 * 2654435761 + 40503)
               % 1000003 + 1000003) % 1000003 ASC, doc_id ASC) AS rk
        FROM documents)
      WHERE rk <= 25""")),

    // GPT-style sequence packing: concatenate each source stream in doc
    // order, split at 512-token boundaries; per doc -> its sequence id and
    // boundary-straddle count. One shuffle on the stream key.
    Q("q57_seq_pack", (s, d) => {
      import s.implicits._
      CorpusOps.packSequences(
        t(s, d, "documents"), "doc_id", "source",
        TextOps.tokenCount($"text"), budget = 512)
    }, Some("""
      WITH tc AS (
        SELECT doc_id, source,
               len(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents),
      c AS (
        SELECT doc_id, source, tok,
          sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM tc)
      SELECT doc_id, source, CAST(tok AS BIGINT) AS n_tokens,
        CAST((cum - tok) // 512 AS BIGINT) AS seq_id,
        CAST(greatest(0, (cum - 1) // 512 - (cum - tok) // 512) AS BIGINT)
          AS n_boundary_crossings
      FROM c""")),

    // per-document distinctive terms (tf-idf family): top-3 terms by
    // (tf desc, df asc, term asc) — an integer-exact ranking, with the
    // double tf*ln(N/df) score carried for consumers. N comes from
    // parquet footer stats (no extra scan); the vocabulary-sized df table
    // broadcasts; the per-doc top-k executes through TopKPerKeyExec.
    Q("q58_distinctive_terms", (s, d) => {
      import s.implicits._
      val n = Stats.parquetRowCount(s, s"$d/documents.parquet")
      val toks = t(s, d, "documents")
        .select($"doc_id", explode(TextOps.tokens($"text")).as("term"))
      val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"tf".desc, $"df".asc, $"term".asc)
      // dfT is the VOCABULARY — it grows with the corpus, so no
      // broadcast hint: the term-keyed join shuffles by default and AQE
      // upgrades it to a broadcast at runtime when the vocab is small
      tf.join(dfT, "term")
        .withColumn("tfidf", round($"tf" * log(lit(n.toDouble) / $"df"), 6))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"doc_id", $"term", $"tf".cast("long").as("tf"),
          $"df".cast("long").as("df"), $"tfidf")
    }, Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
                   FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents)
      SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        round(tf * ln(n.n * 1.0 / df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
      QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC) <= 3""")),

    // multi-signal near-dup ensemble: the candidate pool a curation pass
    // actually dedups against — pairs flagged by the TEXT signal
    // (simhash banding, q35's pipeline) or the SEMANTIC signal
    // (embedding LSH, q50's pipeline), with per-signal flags so policy
    // can differ (both-agree → auto-drop high precision; either →
    // review/cluster). Each arm keeps its own linear-candidate scale
    // shape; the ensemble is one full-outer join on the pair key.
    Q("q69_neardup_ensemble", (s, d) => {
      import s.implicits._
      val tokRows = t(s, d, "documents")
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      // persisted like q209's (round-9 adjudication): the sig frame is
      // the expensive tokenize→simhash agg; caching it pins the cost to
      // one computation even if the banded cache below is evicted under
      // full-catalog memory pressure.
      val sigs = DedupOps
        .simhash32FromTokenRows(tokRows, "doc_id", "tok", "simhash")
        .select($"doc_id", $"simhash").persist()
      val textPairs = DedupOps
        .simhashPairsBanded(sigs, "doc_id", "simhash", maxHamming = 1)
        .select($"doc_a".as("id_a"), $"doc_b".as("id_b"), lit(true).as("bt"))
      val n = Stats.parquetRowCount(s, s"$d/embeddings.parquet")
      val cfg = SimilarityOps.lshSizing(n)
      val tables = SimilarityOps.lshTables(cfg.planes, cfg.tables, dim = 64)
      val embPairs = SimilarityOps
        .lshNearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding",
          tables, threshold = 0.4, probes = cfg.probes)
        .select($"id_a", $"id_b", lit(true).as("be"))
      textPairs.join(embPairs, Seq("id_a", "id_b"), "full_outer")
        .select($"id_a", $"id_b",
          coalesce($"bt", lit(false)).as("by_text"),
          coalesce($"be", lit(false)).as("by_embedding"),
          (coalesce($"bt", lit(false)) && coalesce($"be", lit(false)))
            .as("by_both"))
    }, Some(CorpusQueries.ensembleOracleSql(500)),
      oracleDyn = Some((s, d) => CorpusQueries.ensembleOracleSql(
        Stats.parquetRowCount(s, s"$d/embeddings.parquet")))),

    // the mixture report a training run is configured against: per
    // (source, lang) document and token counts plus each cell's share
    // of the corpus. One shuffle for the agg; the grand total is a
    // single-row broadcast join (no second scan, no window over the
    // whole table in one partition).
    Q("q66_mixture_report", (s, d) => {
      import s.implicits._
      val cells = t(s, d, "documents")
        .groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount($"text").cast("long")).as("n_tokens"))
      val total = cells.agg(sum($"n_docs").as("total")).select($"total")
      cells.join(broadcast(total))
        .select($"source", $"lang",
          $"n_docs".cast("long").as("n_docs"),
          $"n_tokens".cast("long").as("n_tokens"),
          round($"n_docs".cast("double") / $"total", 6).as("doc_share"))
    }, Some("""
      WITH cells AS (
        SELECT source, lang, count(*) AS n_docs,
          sum(len(string_split_regex(trim(text), '\s+'))) AS n_tokens
        FROM documents GROUP BY 1, 2),
      tot AS (SELECT sum(n_docs) AS total FROM cells)
      SELECT source, lang, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        round(n_docs * 1.0 / total, 6) AS doc_share
      FROM cells CROSS JOIN tot""")),

    // temperature-scaled mixture weights (the multilingual-training
    // upsampling rule: sample source i with p_i ∝ tokens_i^alpha,
    // alpha=0.7): per-source token counts -> normalized sampling weight
    // -> expected epochs of each source at a fixed training budget.
    // The per-source pow() is rounded then summed as DECIMAL so the
    // normalizer is independent of partition/summation order — a raw
    // double sum would make the hash gate engine-order-dependent. One
    // agg shuffle + a single-row broadcast normalizer join.
    Q("q72_mixture_weights", (s, d) => {
      import s.implicits._
      val W = org.apache.spark.sql.types.DecimalType(28, 6)
      val cells = t(s, d, "documents").groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount($"text").cast("long")).as("n_tokens"))
        .withColumn("raw", round(pow($"n_tokens".cast("double"), 0.7), 6).cast(W))
      val tot = cells.agg(sum($"raw").as("total"))
      cells.join(broadcast(tot))
        .select($"source", $"n_docs".cast("long").as("n_docs"),
          $"n_tokens".cast("long").as("n_tokens"),
          round($"raw".cast("double") / $"total".cast("double"), 6).as("weight"),
          round($"raw".cast("double") / $"total".cast("double") * 1000000d
            / $"n_tokens", 6).as("epochs_at_1m"))
    }, Some("""
      WITH cells AS (
        SELECT source, count(*) AS n_docs,
          sum(len(string_split_regex(trim(text), '\s+'))) AS n_tokens
        FROM documents GROUP BY 1),
      p AS (SELECT source, n_docs, n_tokens,
              CAST(round(pow(n_tokens, 0.7), 6) AS DECIMAL(28,6)) AS raw
            FROM cells),
      tot AS (SELECT sum(raw) AS total FROM p)
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        round(CAST(raw AS DOUBLE) / CAST(total AS DOUBLE), 6) AS weight,
        round(CAST(raw AS DOUBLE) / CAST(total AS DOUBLE) * 1000000
          / n_tokens, 6) AS epochs_at_1m
      FROM p CROSS JOIN tot""")),

    // incremental-ingest dedup: the pattern a continuously-fed corpus
    // runs on every batch — admit a new document only if its canonical
    // fingerprint is unseen in the existing corpus AND it is the
    // canonical (min doc_id) copy within its own batch. Corpus side is a
    // left-anti join on the fingerprint (one shuffle, no corpus
    // materialization on the driver); in-batch dedup is the rank=1
    // TopKPerKeyExec shape. Batch = doc_id % 10 == 7 here; in production
    // the daily ingest slice.
    Q("q67_ingest_dedup", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
        .select($"doc_id", TextOps.fingerprint($"text").as("fp"))
      val batch = docs.filter($"doc_id" % 10 === 7)
      val corpus = docs.filter($"doc_id" % 10 =!= 7)
      val w = Window.partitionBy($"fp").orderBy($"doc_id".asc)
      batch
        .join(corpus.select($"fp"), Seq("fp"), "left_anti")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"doc_id", $"fp")
    }, Some("""
      WITH f AS (
        SELECT doc_id,
          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents)
      SELECT doc_id, fp FROM (
        SELECT b.doc_id, b.fp,
          row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id ASC) AS rn
        FROM f b
        WHERE b.doc_id % 10 = 7
          AND NOT EXISTS (SELECT 1 FROM f c
                          WHERE c.doc_id % 10 <> 7 AND c.fp = b.fp))
      WHERE rn = 1""")),

    // corpus-level boilerplate removal (CCNet/RefinedWeb line dedup,
    // token-segment flavored): segments shared by >= 3 documents are
    // chrome/boilerplate and get stripped; each doc is reassembled from
    // its surviving segments. The corpus has no natural boilerplate, so
    // the query first plants deterministic 8-token prefixes on 2/3 of
    // the docs (the q55 planting precedent) — those segments are exactly
    // what the frequency filter must remove, while a handful of natural
    // short-tail segments also cross the threshold. clean_text is
    // md5'd so the oracle compares full reassembled content without
    // hauling it through the hash gate.
    Q("q70_boilerplate_strip", (s, d) => {
      import s.implicits._
      val planted = t(s, d, "documents").select($"doc_id",
        when($"doc_id" % 3 === 0,
          concat(lit("subscribe to our newsletter for daily updates now "), $"text"))
        .when($"doc_id" % 3 === 1,
          concat(lit("click here to read the full story online "), $"text"))
        .otherwise($"text").as("text"))
      CorpusOps.stripBoilerplateSegments(
          planted, "doc_id", $"text", segTokens = 8, dfThreshold = 3)
        .select($"doc_id", $"n_segs", $"n_kept".cast("long").as("n_kept"),
          md5($"clean_text").as("clean_fp"))
    }, Some("""
      WITH raw AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0
                 THEN 'subscribe to our newsletter for daily updates now ' || text
               WHEN doc_id % 3 = 1
                 THEN 'click here to read the full story online ' || text
               ELSE text END AS text
        FROM documents),
      d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM raw),
      t AS (SELECT doc_id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) - 1 AS pos FROM d),
      s AS (SELECT doc_id, pos // 8 AS seg_id, string_agg(tok, ' ' ORDER BY pos) AS seg
            FROM t GROUP BY 1, 2),
      f AS (SELECT seg, count(DISTINCT doc_id) AS df FROM s GROUP BY 1)
      SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        CAST(sum(CASE WHEN f.df < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        md5(coalesce(string_agg(CASE WHEN f.df < 3 THEN s.seg END,
                                ' ' ORDER BY s.seg_id), '')) AS clean_fp
      FROM s JOIN f ON f.seg = s.seg
      GROUP BY s.doc_id""")),

    // unigram-LM cross-entropy per document (the perplexity-filter
    // family): p(tok) from corpus-wide counts, each doc scored by
    // avg -ln p over its token occurrences — low = templated/common,
    // high = rare-heavy. Each token's -ln p is quantized ONCE to
    // integer nano-nats via floor (floor of the same double is
    // engine-identical, where round()'s half-tie semantics on doubles
    // are not — Spark rounds the exact binary expansion, DuckDB the
    // scaled double), and everything after is exact integer
    // arithmetic: order-independent sums, floor-division average. tf
    // rides the (doc,tok) agg so the vocab join is vocabulary-sized,
    // not occurrence-sized. Two shuffles (doc-tok agg, vocab agg) +
    // one vocab-keyed join — every stage linear in corpus size.
    Q("q73_unigram_logprob", (s, d) => {
      import s.implicits._
      val tf = t(s, d, "documents")
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      val vocab = tf.groupBy($"tok").agg(sum($"tf").as("cnt"))
      val total = vocab.agg(sum($"cnt").as("total"))
      val scored = tf.join(vocab, "tok").join(broadcast(total))
        .withColumn("nlp_n",
          floor(-log($"cnt".cast("double") / $"total") * 1000000000d)
            .cast("long"))
      scored.groupBy($"doc_id")
        .agg(sum($"tf").cast("long").as("n_tokens"),
          sum($"nlp_n" * $"tf").as("nlp_sum"))
        .select($"doc_id", $"n_tokens",
          expr("(nlp_sum * 1000000) div (n_tokens * 1000000000)")
            .as("xent_micro"))
    }, Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
                   FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
      vocab AS (SELECT tok, sum(tf) AS cnt FROM tf GROUP BY 1),
      tot AS (SELECT sum(cnt) AS total FROM vocab),
      scored AS (
        SELECT tf.doc_id, tf.tf,
          CAST(floor(-ln(vocab.cnt * 1.0 / tot.total) * 1000000000) AS BIGINT) AS nlp_n
        FROM tf JOIN vocab USING (tok) CROSS JOIN tot)
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        CAST((sum(nlp_n * tf) * 1000000) // (sum(tf) * 1000000000) AS BIGINT)
          AS xent_micro
      FROM scored GROUP BY doc_id""")),

    // bigram conditional cross-entropy (q73's unigram model upgraded to
    // order-2 with add-one smoothing): p(w2|w1) = (c(w1 w2)+1)/(c(w1)+V),
    // each doc scored by avg -ln p over its bigram occurrences. The same
    // engine-exactness scheme as q73 — ONE floor-quantization to integer
    // nano-nats per distinct bigram, integer sums after. Model joins are
    // bigram-vocabulary keyed (never broadcast; the vocab-size V and the
    // unigram table are model-sized). Docs with < 2 tokens have no
    // bigrams and drop out — identical in both engines.
    Q("q102_bigram_logprob", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val tf = TextOps.shingleRows(docs, "doc_id", "text", n = 2)
        .select($"doc_id", $"shingle".as("bg"))
        .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("tf"))
      val c2 = tf.groupBy($"bg").agg(sum($"tf").as("c2"))
      val c1 = docs
        .select(explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("c1"))
      val vRow = c1.agg(count(lit(1)).as("v"))
      val model = c2
        .withColumn("w1", substring_index($"bg", " ", 1))
        .join(c1.withColumnRenamed("tok", "w1"), "w1")
        .join(broadcast(vRow))
        .select($"bg",
          floor(-log(($"c2" + 1).cast("double") / ($"c1" + $"v"))
            * 1000000000d).cast("long").as("nlp_n"))
      tf.join(model, "bg")
        .groupBy($"doc_id")
        .agg(sum($"tf").cast("long").as("n_bigrams"),
          sum($"nlp_n" * $"tf").as("nlp_sum"))
        .select($"doc_id", $"n_bigrams",
          expr("(nlp_sum * 1000000) div (n_bigrams * 1000000000)")
            .as("xent_micro"))
    }, Some("""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                 FROM documents),
      bgr AS (SELECT doc_id,
                unnest(list_transform(range(1, greatest(len(toks), 1)),
                  i -> toks[i] || ' ' || toks[i+1])) AS bg
              FROM d),
      tf AS (SELECT doc_id, bg, count(*) AS tf FROM bgr GROUP BY 1, 2),
      c2 AS (SELECT bg, sum(tf) AS c2 FROM tf GROUP BY 1),
      uni AS (SELECT unnest(toks) AS tok FROM d),
      c1 AS (SELECT tok, count(*) AS c1 FROM uni GROUP BY 1),
      v AS (SELECT count(*) AS v FROM c1),
      model AS (
        SELECT bg,
          CAST(floor(-ln((c2 + 1) * 1.0 / (c1.c1 + v.v)) * 1000000000)
               AS BIGINT) AS nlp_n
        FROM c2 JOIN c1 ON c1.tok = split_part(bg, ' ', 1) CROSS JOIN v)
      SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
        CAST((sum(model.nlp_n * tf.tf) * 1000000)
               // (sum(tf.tf) * 1000000000) AS BIGINT) AS xent_micro
      FROM tf JOIN model USING (bg) GROUP BY tf.doc_id""")),

    // token-budget corpus selection: keep the best docs that fit a
    // 10k-token training budget, greedy by quality bucket desc then
    // doc_id asc — WITHOUT a global sort (the bucket histogram bounds
    // the only unpartitioned window at <= 1001 rows at any corpus
    // size; see CorpusOps.selectWithinTokenBudget). Quality is
    // floor-quantized to milli-units (floor is engine-portable;
    // round(double, N) is not — BASELINE.md).
    Q("q75_budget_select", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
        .select($"doc_id", TextOps.tokenCount($"text").as("tok"),
          floor(TextOps.qualityRaw($"text") * 1000).as("qb"))
      CorpusOps.selectWithinTokenBudget(docs, "doc_id", $"tok", $"qb",
        budget = 10000L)
    }, Some("""
      WITH d AS (
        SELECT doc_id,
          len(string_split_regex(trim(text), '\s+')) AS tok,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS qb
        FROM documents),
      b AS (SELECT qb, sum(tok) AS btok FROM d GROUP BY 1),
      bc AS (SELECT qb,
               sum(btok) OVER (ORDER BY qb DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - btok AS prior
             FROM b),
      j AS (SELECT d.doc_id, d.qb, d.tok, bc.prior,
              sum(d.tok) OVER (PARTITION BY d.qb ORDER BY d.doc_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dcum
            FROM d JOIN bc USING (qb))
      SELECT doc_id, CAST(qb AS BIGINT) AS qb, CAST(tok AS BIGINT) AS n_tokens,
             (prior + dcum) <= 10000 AS selected
      FROM j""")),

    // vocabulary construction + OOV scoring: the top-K corpus tokens by
    // frequency become the vocabulary (deterministic count-desc,
    // token-asc tie-break); every document is then scored by its
    // out-of-vocabulary token rate in integer ppm. The only
    // unpartitioned step is the top-K window over the VOCABULARY table —
    // already shrunk to one row per distinct token by a map-side-combined
    // agg, orders of magnitude smaller than the corpus (and bounded by
    // K·#partitions if fronted by a per-partition top-K; at this K the
    // single window is the simpler exact plan). The chosen vocab is
    // broadcast back — corpus side stays one tf shuffle.
    Q("q79_vocab_oov", (s, d) => {
      import s.implicits._
      val tf = t(s, d, "documents")
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      val vocabAll = tf.groupBy($"tok").agg(sum($"tf").as("cnt"))
      // exact top-50 via bucketed prefilter: the global sort sees at
      // most 50 x 64 survivors, not the whole (corpus-growing) vocab
      val vocab = CorpusOps.globalTopK(vocabAll, $"tok", k = 50,
          order = Seq($"cnt".desc, $"tok".asc))
        .select($"tok", lit(true).as("in_vocab"))
      tf.join(broadcast(vocab), Seq("tok"), "left_outer")
        .groupBy($"doc_id")
        .agg(sum($"tf").cast("long").as("n_tokens"),
          sum(when($"in_vocab".isNull, $"tf").otherwise(0L)).cast("long")
            .as("n_oov"))
        .select($"doc_id", $"n_tokens", $"n_oov",
          expr("(n_oov * 1000000) div n_tokens").as("oov_ppm"))
    }, Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
                   FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
      vc AS (SELECT tok, sum(tf) AS cnt FROM tf GROUP BY 1),
      vocab AS (SELECT tok FROM vc
                QUALIFY row_number() OVER (ORDER BY cnt DESC, tok ASC) <= 50),
      j AS (SELECT tf.doc_id, tf.tf, v.tok IS NOT NULL AS iv
            FROM tf LEFT JOIN vocab v USING (tok))
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        CAST(sum(CASE WHEN iv THEN 0 ELSE tf END) AS BIGINT) AS n_oov,
        CAST(sum(CASE WHEN iv THEN 0 ELSE tf END) * 1000000 // sum(tf) AS BIGINT)
          AS oov_ppm
      FROM j GROUP BY doc_id""")),

    // adaptive per-group threshold filter: each language's own exact
    // median length is its cutoff — the data-dependent analog of q78's
    // fixed rules (curation passes tune thresholds per subcorpus because
    // a fixed global cutoff over/under-filters minority languages). The
    // group-stat table is group-cardinality-sized, so it broadcasts; the
    // corpus side is a row-local filter against its group's scalar — no
    // corpus-sized shuffle at any scale. Median interpolation on integer
    // lengths is (a+b)/2 — exact in doubles, so the >= gate is
    // engine-identical.
    Q("q80_adaptive_threshold", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val cuts = docs.groupBy($"lang")
        .agg(expr("percentile(n_chars, 0.5)").as("p50"))
      docs.join(broadcast(cuts), "lang")
        .filter($"n_chars".cast("double") >= $"p50")
        .select($"doc_id", $"lang", $"n_chars",
          round($"p50", 6).as("cutoff"))
    }, Some("""
      WITH c AS (SELECT lang, quantile_cont(n_chars, 0.5) AS p50
                 FROM documents GROUP BY 1)
      SELECT doc_id, d.lang, n_chars, round(c.p50, 6) AS cutoff
      FROM documents d JOIN c ON c.lang = d.lang
      WHERE d.n_chars >= c.p50""")),

    // Bloom-filter membership decontamination: the benchmark fingerprint
    // set compressed to a 1024-bit / 3-hash Bloom filter (32 words of 32
    // bits — shifts stay below the sign bit so the BIGINT bit math is
    // engine-identical), probed by every corpus document. The filter
    // table is bit-size/64 rows REGARDLESS of benchmark cardinality —
    // where q54's exact-set broadcast grows with the benchmark, the
    // Bloom broadcast is constant-size, the 100 TB play for membership
    // prefilters (no false negatives; false positives re-checked by the
    // exact is_match column here, by q54's shingle overlap in the full
    // pipeline). Probe side is 3 broadcast left joins + row-local bit
    // tests: zero corpus-side shuffles. Hash positions come from the
    // same positional-md5 family as MinHash (DedupOps.hv32), so the
    // oracle replays bits exactly.
    Q("q81_bloom_decontam", (s, d) => {
      import s.implicits._
      val fps = t(s, d, "documents")
        .select($"doc_id", TextOps.fingerprint($"text").as("fp"))
      // persist the benchmark slice ONCE (fingerprints + hash
      // positions); the bloom build, all three probe joins, and the
      // exact-match set derive from it — without this the documents
      // scan + md5 pass would rerun per consumer (q71 precedent).
      // persist(), not localCheckpoint: blocks stay evictable and are
      // released by the harness's clearCache (q103 precedent).
      val bench = DedupOps
        .md5Buckets(fps.filter($"doc_id" % 20 === 0), $"fp", k = 3, mod = 1024)
        .persist()
      // the <= 32-row filter table is itself persisted so the three
      // probe joins broadcast ONE materialization instead of replaying
      // the build agg each
      val bloom = bench
        .select(explode(array($"b0", $"b1", $"b2")).as("p"))
        .groupBy(expr("p div 32").as("word"))
        .agg(expr("bit_or(shiftleft(1L, cast(p % 32 as int)))").as("bits"))
        .persist()
      val corpus = DedupOps
        .md5Buckets(fps.filter($"doc_id" % 20 =!= 0), $"fp", k = 3, mod = 1024)
      val probed = (0 until 3).foldLeft(corpus) { (acc, j) =>
        acc.join(
          broadcast(bloom.select(col("word").as(s"w$j"), col("bits").as(s"bits$j"))),
          expr(s"b$j div 32") === col(s"w$j"), "left_outer")
      }
      def hit(j: Int) = coalesce(
        expr(s"(shiftright(bits$j, cast(b$j % 32 as int)) & 1L) = 1L"),
        lit(false))
      // the benchmark fingerprint set is eval-suite-sized in production
      // but corpus-derived in this demo — like q54, no hint is pinned:
      // AQE upgrades this join to a broadcast at runtime when the side
      // measures small, and falls back to a shuffled join when it does
      // not, so the driver can never be handed a corpus-sized frame
      val exact = bench.select($"fp").distinct().withColumn("__im", lit(true))
      probed.join(exact, Seq("fp"), "left_outer")
        .select($"doc_id",
          (hit(0) && hit(1) && hit(2)).as("might_match"),
          coalesce($"__im", lit(false)).as("is_match"))
    }, Some {
      val hv = (j: Int) => DedupQueries.hvDuckOf(s"(fp || ':$j')")
      s"""WITH f AS (
         |  SELECT doc_id,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |pos AS (
         |  SELECT doc_id, fp, j,
         |    CASE j WHEN 0 THEN (${hv(0)}) % 1024
         |           WHEN 1 THEN (${hv(1)}) % 1024
         |           ELSE (${hv(2)}) % 1024 END AS p
         |  FROM f CROSS JOIN (SELECT unnest(range(0, 3)) AS j) js),
         |bloom AS (
         |  SELECT p // 32 AS word,
         |         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
         |  FROM pos WHERE doc_id % 20 = 0 GROUP BY 1),
         |m AS (
         |  SELECT pr.doc_id, pr.fp,
         |    bool_and(coalesce((b.bits >> CAST(pr.p % 32 AS INT)) & 1, 0) = 1)
         |      AS might_match
         |  FROM (SELECT * FROM pos WHERE doc_id % 20 <> 0) pr
         |  LEFT JOIN bloom b ON b.word = pr.p // 32
         |  GROUP BY 1, 2),
         |bf AS (SELECT DISTINCT fp FROM f WHERE doc_id % 20 = 0)
         |SELECT m.doc_id, m.might_match, bf.fp IS NOT NULL AS is_match
         |FROM m LEFT JOIN bf ON bf.fp = m.fp""".stripMargin
    }),

    // per-stratum top-p (nucleus) mass selection: keep each language's
    // hash-priority-ordered documents until 90% of that language's token
    // mass is covered — the "drop the long tail, keep the mass" mixing
    // rule. No stratum-wide sort: the q75 histogram trick per group (see
    // CorpusOps.selectTopMassPerStratum) bounds every unbucketed window
    // at <= 1000 rows per stratum. Oracle computes the same cutoff with
    // a direct stratum-wide running sum — equal by the monotone-bucket
    // argument.
    Q("q83_topp_select", (s, d) => {
      import s.implicits._
      CorpusOps.selectTopMassPerStratum(
          t(s, d, "documents"), "doc_id", $"lang",
          TextOps.tokenCount($"text"), permille = 900)
        .select($"doc_id", $"stratum".as("lang"), $"n_tokens")
    }, Some("""
      WITH d AS (
        SELECT doc_id, lang,
          len(string_split_regex(trim(text), '\s+')) AS tok,
          ((((doc_id % 1000003) + 1000003) % 1000003 * 2654435761 + 40503)
             % 1000003 + 1000003) % 1000003 AS prio
        FROM documents),
      t AS (SELECT lang, sum(tok) AS total FROM d GROUP BY 1),
      c AS (SELECT doc_id, lang, tok, prio,
              sum(tok) OVER (PARTITION BY lang ORDER BY prio ASC, doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM d)
      SELECT c.doc_id, c.lang, CAST(c.tok AS BIGINT) AS n_tokens
      FROM c JOIN t USING (lang)
      WHERE (c.cum - c.tok) * 1000 < t.total * 900""")),

    // deterministic train/val/test split assignment: 98/1/1 by the same
    // overflow-safe hashMix as the samplers — a pure function of the row
    // id, so the split survives reruns, repartitioning, and engine
    // changes (an RNG split would leak val docs into train on every
    // recompute). Row-local, zero shuffles.
    Q("q84_split_assign", (s, d) => {
      import s.implicits._
      val h = CorpusOps.hashMix($"doc_id", 1000L)
      t(s, d, "documents").select($"doc_id", $"lang",
        when(h < 980, "train").when(h < 990, "val").otherwise("test")
          .as("split"))
    }, Some("""
      WITH h AS (
        SELECT doc_id, lang,
          ((((doc_id % 1000003) + 1000003) % 1000003 * 2654435761 + 40503)
             % 1000 + 1000) % 1000 AS hm
        FROM documents)
      SELECT doc_id, lang,
        CASE WHEN hm < 980 THEN 'train'
             WHEN hm < 990 THEN 'val'
             ELSE 'test' END AS split
      FROM h""")),

    // train/holdout n-gram coverage: after the q84 hash split, what
    // fraction of each language's held-out bigrams also occur in its
    // training split — the generalization sanity report an eval-prep
    // pipeline logs (coverage ~1 means the val loss measures recall of
    // seen constructions; low coverage warns of a skewed split). Both
    // sides collapse to DISTINCT (lang, bigram) first (map-side
    // combine), then ONE vocabulary-keyed left join — no broadcast
    // (both sides grow with the corpus), no windows; cov_ppm is integer
    // floor-division. Split assignment is the q84 seeded hashMix — a
    // pure row function.
    Q("q120_split_ngram_coverage", (s, d) => {
      import s.implicits._
      val hm = CorpusOps.hashMix($"doc_id", 1000L)
      val docs = t(s, d, "documents")
        .select($"doc_id", $"lang", (hm < 980).as("is_train"), $"text")
      // round-15 opt: grams assemble row-locally, so lang/is_train ride
      // the SAME row — the doc-keyed join-back (an exchange of the full
      // bigram stream plus one of docs) is gone
      val big = docs.select($"lang", $"is_train",
        explode(TextOps.shingles(TextOps.tokens($"text"), 2)).as("bigram"))
      val train = big.filter($"is_train")
        .select($"lang", $"bigram").distinct()
        .withColumn("in_train", lit(true))
      val hold = big.filter(!$"is_train")
        .select($"lang", $"bigram").distinct()
      hold.join(train, Seq("lang", "bigram"), "left")
        .groupBy($"lang")
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          sum(when($"in_train", 1L).otherwise(0L)).cast("long").as("n_covered"))
        .withColumn("cov_ppm", expr("n_covered * 1000000 div n_bigrams"))
    }, Some("""
      WITH h AS (
        SELECT doc_id, lang, text,
          ((((doc_id % 1000003) + 1000003) % 1000003 * 2654435761 + 40503)
             % 1000 + 1000) % 1000 < 980 AS is_train
        FROM documents),
      tk AS (SELECT doc_id, lang, is_train,
               string_split_regex(trim(text), '\s+') AS toks
             FROM h),
      bg AS (SELECT lang, is_train,
               unnest(list_transform(range(1, greatest(len(toks), 1)),
                 i -> toks[i] || ' ' || toks[i+1])) AS bigram
             FROM tk),
      tr AS (SELECT DISTINCT lang, bigram FROM bg WHERE is_train),
      ho AS (SELECT DISTINCT lang, bigram FROM bg WHERE NOT is_train)
      SELECT ho.lang, CAST(count(*) AS BIGINT) AS n_bigrams,
        CAST(sum(CASE WHEN tr.bigram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_covered,
        CAST(sum(CASE WHEN tr.bigram IS NOT NULL THEN 1 ELSE 0 END) * 1000000
               // count(*) AS BIGINT) AS cov_ppm
      FROM ho LEFT JOIN tr ON tr.lang = ho.lang AND tr.bigram = ho.bigram
      GROUP BY 1""")),

    // per-source quality calibration: each document's quality expressed
    // as its percentile WITHIN its source (heterogeneous sources score
    // on incomparable scales; mixing on raw scores over-drops whole
    // sources — RefinedWeb/FineWeb calibrate per source before global
    // thresholds). Quality is floor-quantized to milli-units (portable),
    // the rank order is made total with the doc id, and the percentile
    // is floor-quantized ppm of percent_rank — identical doubles into
    // identical floors on both engines. One window per source: windows
    // are parallel across sources, skew bounded by the largest source
    // (the rank analog of the q75/q83 histogram trick applies if one
    // source dominates).
    Q("q85_quality_calibrate", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"source")
        .orderBy($"qmilli".asc, $"doc_id".asc)
      t(s, d, "documents")
        .select($"doc_id", $"source",
          floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("qmilli"))
        .withColumn("pr_ppm",
          floor(percent_rank().over(w) * 1000000).cast("long"))
    }, Some("""
      WITH q AS (
        SELECT doc_id, source,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS qmilli
        FROM documents)
      SELECT doc_id, source, qmilli,
        CAST(floor(percent_rank() OVER (PARTITION BY source
               ORDER BY qmilli ASC, doc_id ASC) * 1000000) AS BIGINT) AS pr_ppm
      FROM q""")),

    // incremental aggregate maintenance: the daily-stats pattern — a
    // stored per-source partial-aggregate table merges with the new
    // batch's partials WITHOUT rescanning the corpus (counts and sums
    // are algebraic: merge = re-sum; the average is derived from the
    // merged sums, never averaged-of-averages). The oracle recomputes
    // from scratch over the full table — equality IS the merge-
    // correctness proof. At 100 TB the stored side is a source-count
    // sized table; only the delta is scanned.
    Q("q88_incremental_agg", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select($"source", $"doc_id",
        TextOps.tokenCount($"text").cast("long").as("tok"))
      def partials(df: org.apache.spark.sql.DataFrame) =
        df.groupBy($"source")
          .agg(count(lit(1)).as("n"), sum($"tok").as("tk"))
      val stored = partials(docs.filter($"doc_id" % 10 =!= 7))
      val delta = partials(docs.filter($"doc_id" % 10 === 7))
      stored.unionByName(delta).groupBy($"source")
        .agg(sum($"n").as("nd"), sum($"tk").as("nt"))
        .select($"source", $"nd".cast("long").as("n_docs"),
          $"nt".cast("long").as("n_tokens"),
          expr("(nt * 1000000) div nd").as("avg_tokens_micro"))
    }, Some("""
      SELECT source, count(*) AS n_docs,
        CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
          AS n_tokens,
        CAST(sum(len(string_split_regex(trim(text), '\s+'))) * 1000000
               // count(*) AS BIGINT) AS avg_tokens_micro
      FROM documents GROUP BY source""")),

    // cross-source vocabulary overlap: Jaccard similarity between every
    // pair of sources' token sets — the corpus-diversity diagnostic a
    // mixture design reads before setting weights (near-identical
    // sources add mass, not coverage). Pair work is quadratic in the
    // SOURCE count (bounded, ~dozens) and linear in vocabulary: the
    // (source, token) table self-joins on the token key only.
    Q("q99_source_overlap", (s, d) => {
      import s.implicits._
      // materialized once: both self-join sides AND the size agg consume
      // this frame (q81/q86 precedent — Spark self-joins don't share the
      // subplan, so the scan+tokenize+distinct would otherwise run 3x).
      // persist(): evictable + clearCache-reclaimable (q103 precedent)
      val sv = t(s, d, "documents")
        .select($"source", explode(TextOps.tokens($"text")).as("tok"))
        .distinct()
        .persist()
      val sizes = sv.groupBy($"source").agg(count(lit(1)).as("sz"))
      val inter = sv.select($"source".as("src_a"), $"tok")
        .join(sv.select($"source".as("src_b"), $"tok"), "tok")
        .filter($"src_a" < $"src_b")
        .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select($"source".as("src_a"), $"sz".as("sza"))), "src_a")
        .join(broadcast(sizes.select($"source".as("src_b"), $"sz".as("szb"))), "src_b")
        // floor-quantized ppm, not round(double, 6): floor of the same
        // double is engine-identical (BASELINE.md's round() half-tie note)
        .select($"src_a", $"src_b", $"inter".cast("long").as("inter"),
          floor($"inter".cast("double") / ($"sza" + $"szb" - $"inter")
            * 1000000d).cast("long").as("jaccard_ppm"))
    }, Some("""
      WITH sv AS (
        SELECT DISTINCT source,
          unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents),
      sz AS (SELECT source, count(*) AS sz FROM sv GROUP BY 1),
      i AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
        FROM sv a JOIN sv b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2)
      SELECT src_a, src_b, CAST(inter AS BIGINT) AS inter,
        CAST(floor(inter * 1.0 / (sa.sz + sb.sz - inter) * 1000000)
             AS BIGINT) AS jaccard_ppm
      FROM i
      JOIN sz sa ON sa.source = i.src_a
      JOIN sz sb ON sb.source = i.src_b""")),

    // equi-width histogram of document lengths per language (the other
    // dashboard shape next to q60's percentiles): 10 bins over the
    // corpus-global [min, max], all-integer bin assignment — row-local
    // after a single-row bounds broadcast, one agg shuffle.
    Q("q95_histogram", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val bounds = docs.agg(min($"n_chars").as("mn"), max($"n_chars").as("mx"))
      docs.join(broadcast(bounds))
        .groupBy($"lang",
          expr("least(9L, (n_chars - mn) * 10 div (mx - mn + 1))").as("bin"))
        .agg(count(lit(1)).as("n_docs"))
        .select($"lang", $"bin".cast("long").as("bin"),
          $"n_docs".cast("long").as("n_docs"))
    }, Some("""
      WITH b AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents)
      SELECT lang,
        CAST(least(9, (n_chars - mn) * 10 // (mx - mn + 1)) AS BIGINT) AS bin,
        count(*) AS n_docs
      FROM documents CROSS JOIN b
      GROUP BY 1, 2""")),

    // the composed curation pipeline v2 — this round's operators chained
    // the way a production pass runs them: quality gate (q28's score) →
    // duplicated-span gate (q77's window fraction, natural windows only)
    // → canonical dedup (q51's rank-1-per-fingerprint, on
    // TopKPerKeyExec) → train-split filter (q84's hashMix) → sequence
    // packing (q57). One oracle replays the whole chain, so the stages'
    // COMPOSITION is gated, not just each stage alone. Shuffle budget:
    // window stream + window-frequency (shingle key), per-doc agg,
    // fingerprint window, pack window — each linear, no stage
    // materializes the corpus on the driver.
    Q("q100_pipeline_v2", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      // round-16 opt (q77's form): a doc's duplicated-window count is
      // nw − nu (uniqueWindowCounts, windowCount), so the corpus rows
      // never cross a join. dfrac values are bit-identical to the old
      // withWindowFreq join-back: nd = nw − nu exactly, same
      // long-to-double division.
      val uniq = TextOps.uniqueWindowCounts(
        TextOps.distinctWindows(docs, "doc_id", "text"), "doc_id")
      // quality gate on the FLOOR-quantized milli score (qualityRaw's
      // documented comparison form — round(double, N) half-ties are not
      // engine-portable; q75/q85 precedent)
      val scored = docs.select($"doc_id", $"source",
          TextOps.tokenCount($"text").cast("long").as("tok"),
          floor(TextOps.qualityRaw($"text") * 1000).as("qm"),
          TextOps.fingerprint($"text").as("fp"),
          TextOps.windowCount($"text").as("nw"))
        .join(uniq, Seq("doc_id"), "left_outer")
        .withColumn("dfrac", when($"nw" === 0L, lit(0.0))
          .otherwise(($"nw" - coalesce($"nu", lit(0L))).cast("double") /
            $"nw"))
        .filter($"qm" >= 500 && $"dfrac" < 0.5)
      val wFp = Window.partitionBy($"fp").orderBy($"doc_id".asc)
      val train = scored
        .withColumn("rn", row_number().over(wFp)).filter($"rn" === 1)
        .filter(CorpusOps.hashMix($"doc_id", 1000L) < 980)
      val wPack = Window.partitionBy($"source").orderBy($"doc_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      train.withColumn("cum", sum($"tok").over(wPack))
        .select($"doc_id", $"source", $"tok".as("n_tokens"),
          expr("(cum - tok) div 512").as("seq_id"))
    }, Some(s"""
      WITH ${DedupQueries.winCteSql("documents")},
      fq AS (SELECT win, count(*) AS wdf FROM wins GROUP BY 1),
      dfr AS (SELECT wins.doc_id,
                sum(CASE WHEN fq.wdf > 1 THEN 1 ELSE 0 END) * 1.0 / count(*)
                  AS dfrac
              FROM wins JOIN fq USING (win) GROUP BY 1),
      scored AS (
        SELECT doc_id, source,
          len(string_split_regex(trim(text), '\\s+')) AS tok,
          floor((
            least(1.0, len(string_split_regex(trim(text), '\\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\\b(the|a|of|and|to)\\b')) / 10.0) * 0.2)
            * 1000) AS qm,
          md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents),
      pass AS (
        SELECT s.* FROM scored s LEFT JOIN dfr ON dfr.doc_id = s.doc_id
        WHERE s.qm >= 500 AND coalesce(dfr.dfrac, 0.0) < 0.5),
      dedup AS (
        SELECT * FROM pass
        QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) = 1),
      train AS (
        SELECT * FROM dedup
        WHERE ((((doc_id % 1000003) + 1000003) % 1000003 * 2654435761 + 40503)
                 % 1000 + 1000) % 1000 < 980)
      SELECT doc_id, source, CAST(tok AS BIGINT) AS n_tokens,
        CAST((sum(tok) OVER (PARTITION BY source ORDER BY doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - tok) // 512 AS BIGINT) AS seq_id
      FROM train""")),

    // corpus length distribution per language: exact interpolated
    // percentiles (the curation dashboard numbers a filtering pass is
    // tuned against). Exact `percentile` holds a value->count map per
    // group — fine for bounded-cardinality metrics like lengths; the
    // unbounded-cardinality analog is approx_percentile (q43's sketch
    // family). One shuffle on the group key.
    Q("q60_length_percentiles", (s, d) => {
      import s.implicits._
      t(s, d, "documents").groupBy($"lang").agg(
        round(expr("percentile(n_chars, 0.5)"), 6).as("p50"),
        round(expr("percentile(n_chars, 0.95)"), 6).as("p95"),
        count(lit(1)).as("n"))
    }, Some("""
      SELECT lang,
        round(quantile_cont(n_chars, 0.5), 6) AS p50,
        round(quantile_cont(n_chars, 0.95), 6) AS p95,
        CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY lang""")),

    // per-source document caps — the "domain cap" curation step (no
    // source may contribute more than K documents; preference to the
    // highest-quality ones, floor-quantized score + doc_id as the total
    // order). Written in the declarative row_number-over-window form;
    // WindowTopKRule swaps in TopKPerKeyExec, so at corpus scale this is
    // ONE shuffle on source with a bounded k-row buffer per key — no
    // per-source sort, no spill proportional to the hottest domain.
    Q("q105_source_cap", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"source").orderBy($"qb".desc, $"doc_id".asc)
      t(s, d, "documents")
        .select($"doc_id", $"source",
          floor(TextOps.qualityRaw($"text") * 1000).as("qb"))
        .withColumn("cap_rank", row_number().over(w))
        .filter($"cap_rank" <= 10)
        .select($"doc_id", $"source", $"qb", $"cap_rank".cast("long").as("cap_rank"))
    }, Some("""
      WITH d AS (
        SELECT doc_id, source,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS qb
        FROM documents)
      SELECT doc_id, source, qb, cap_rank FROM (
        SELECT doc_id, source, qb,
          row_number() OVER (PARTITION BY source ORDER BY qb DESC, doc_id ASC) AS cap_rank
        FROM d)
      WHERE cap_rank <= 10""")),

    // deterministic training-order shuffle: the step between packing and
    // split in a real pipeline — every document gets a seeded
    // pseudo-random (shard, position) so training reads a reproducible
    // random order. Same overflow-safe hashMix as the samplers: a pure
    // function of the row, so the order survives repartitioning and
    // replays identically in any engine. Shard count is a parameter
    // chosen so a shard stays bounded (~1M docs at scale; 8 here):
    // the per-shard window sorts ONLY within a bounded shard, and
    // shards proceed data-parallel — no global sort, no single-task
    // bottleneck at any corpus size.
    Q("q106_training_order", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"shard").orderBy($"prio".asc, $"doc_id".asc)
      t(s, d, "documents")
        .select($"doc_id", CorpusOps.hashMix($"doc_id", 1000003L).as("prio"))
        .withColumn("shard", pmod($"prio", lit(8L)))
        .withColumn("pos", row_number().over(w).cast("long") - 1)
        .select($"doc_id", $"shard", $"pos")
    }, Some("""
      WITH d AS (
        SELECT doc_id,
          ((((doc_id % 1000003) + 1000003) % 1000003 * 2654435761 + 40503)
             % 1000003 + 1000003) % 1000003 AS prio
        FROM documents)
      SELECT doc_id, prio % 8 AS shard,
        CAST(row_number() OVER (PARTITION BY prio % 8
                                ORDER BY prio ASC, doc_id ASC) - 1 AS BIGINT) AS pos
      FROM d""")),

    // length-bucketed batching (padding-efficiency report): group docs
    // into fixed-size inference/training batches of 32 within each
    // hash shard, longest-first, and report per-batch padding waste
    // (every batch pads to its max length). Longest-first batching is
    // the standard padding minimizer; the report is what an inference
    // pipeline logs to size its batch budget. Shard assignment is the
    // q106 seeded hashMix — a pure row function, so batches replay
    // across engines and repartitionings; the per-shard window sorts
    // only within a bounded shard (shard count is the scale knob, 8
    // here), shards proceed data-parallel. All derived metrics are
    // integer arithmetic (waste, floor-div ppm) — order-independent.
    Q("q114_length_batching", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"shard").orderBy($"n_toks".desc, $"doc_id".asc)
      t(s, d, "documents")
        .select($"doc_id", TextOps.tokenCount($"text").cast("long").as("n_toks"),
          CorpusOps.hashMix($"doc_id", 1000003L).as("prio"))
        .withColumn("shard", pmod($"prio", lit(8L)))
        .withColumn("rn", row_number().over(w))
        .withColumn("batch_id", expr("(rn - 1) div 32").cast("long"))
        .groupBy($"shard", $"batch_id")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          max($"n_toks").as("max_toks"),
          sum($"n_toks").cast("long").as("sum_toks"))
        .withColumn("waste", $"n_docs" * $"max_toks" - $"sum_toks")
        .withColumn("pad_ppm",
          expr("waste * 1000000 div (n_docs * max_toks)"))
    }, Some("""
      WITH d AS (
        SELECT doc_id,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks,
          ((((doc_id % 1000003) + 1000003) % 1000003 * 2654435761 + 40503)
             % 1000003 + 1000003) % 1000003 % 8 AS shard
        FROM documents),
      b AS (
        SELECT shard, doc_id, n_toks,
          (row_number() OVER (PARTITION BY shard
                              ORDER BY n_toks DESC, doc_id ASC) - 1) // 32
            AS batch_id
        FROM d)
      SELECT shard, CAST(batch_id AS BIGINT) AS batch_id,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(max(n_toks) AS BIGINT) AS max_toks,
        CAST(sum(n_toks) AS BIGINT) AS sum_toks,
        CAST(count(*) * max(n_toks) - sum(n_toks) AS BIGINT) AS waste,
        CAST((count(*) * max(n_toks) - sum(n_toks)) * 1000000
               // (count(*) * max(n_toks)) AS BIGINT) AS pad_ppm
      FROM b GROUP BY 1, 2""")),

    // cluster-canonical selection: the survivor-picking step that
    // completes the near-dup story — q35's banded simhash pairs become
    // q53's connected components, and THIS picks the one document to
    // keep per cluster (highest floor-quantized quality, doc_id
    // tie-break) while emitting the full per-document mask a curation
    // pipeline logs. Clusters are near-dup groups — small by
    // construction — so the per-cluster window never sees more than a
    // cluster's worth of rows; CC is O(log n) large-star/small-star
    // rounds; quality is row-local.
    Q("q107_cluster_canonical", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val tokRows = docs.select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      val sigs = DedupOps.simhash32FromTokenRows(tokRows, "doc_id", "tok", "simhash")
        .select($"doc_id", $"simhash")
      val edges = DedupOps.simhashPairsBanded(sigs, "doc_id", "simhash", maxHamming = 1)
        .select($"doc_a".as("a"), $"doc_b".as("b"))
      val labeled = CorpusOps.componentLabels(docs.select($"doc_id"), "doc_id", edges)
      val scored = docs.select($"doc_id",
        floor(TextOps.qualityRaw($"text") * 1000).as("qb"))
      val w = Window.partitionBy($"cluster_id").orderBy($"qb".desc, $"doc_id".asc)
      labeled.join(scored, "doc_id")
        .withColumn("rn", row_number().over(w))
        .select($"doc_id", $"cluster_id", $"qb", ($"rn" === 1).as("kept"))
    }, Some(
      s"""WITH RECURSIVE sh AS (${DedupQueries.simhashDuckSql}),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |      UNION ALL SELECT doc_b, doc_a FROM pairs),
         |r(id, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, r.m FROM r JOIN e ON e.a = r.id),
         |lab AS (SELECT id AS doc_id, CAST(min(m) AS BIGINT) AS cluster_id
         |        FROM r GROUP BY id),
         |q AS (
         |  SELECT doc_id,
         |    CAST(floor((least(1.0, len(string_split_regex(trim(text), '\\s+')) / 50.0) * 0.5 +
         |      (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
         |      least(1.0, len(regexp_extract_all(text, '\\b(the|a|of|and|to)\\b')) / 10.0) * 0.2)
         |      * 1000) AS BIGINT) AS qb
         |  FROM documents)
         |SELECT l.doc_id, l.cluster_id, q.qb,
         |  row_number() OVER (PARTITION BY l.cluster_id
         |                     ORDER BY q.qb DESC, l.doc_id ASC) = 1 AS kept
         |FROM lab l JOIN q USING (doc_id)""".stripMargin)),

    // weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES):
    // per language keep the 10 docs with the largest priority u^(1/w),
    // w = n_chars — the "sample long documents proportionally more,
    // but never twice" primitive behind size-weighted corpus ablations.
    // u is a deterministic uniform from the seeded hashMix (a pure row
    // function — replays across runs/engines/repartitionings, unlike
    // rand()), mapped to (0,1) as (2*mix+1)/2e6ish so it is never 0 or
    // 1. Ranking uses the monotone-equivalent ln(u)/w, floor-quantized
    // ONCE to integer nano units (engine-identical IEEE tree), doc_id
    // tie-break. The per-language top-10 is a declarative row_number
    // window that lowers to TopKPerKeyExec's bounded k-buffer — one
    // shuffle on lang, no per-language sort however hot the language.
    Q("q122_weighted_sample", (s, d) => {
      import s.implicits._
      val mix = CorpusOps.hashMix($"doc_id", 1000003L)
      // weight floor of 1: an empty doc (n_chars = 0) must not divide
      // ln(u) by zero — -Infinity fails the long cast in both engines
      val key = floor(log((mix * 2 + 1).cast("double") / lit(2000006.0d))
        / greatest($"n_chars", lit(1)).cast("double") * 1000000000d).cast("long")
      val w = Window.partitionBy($"lang").orderBy($"es_key_nano".desc, $"doc_id".asc)
      t(s, d, "documents")
        .select($"doc_id", $"lang", $"n_chars", key.as("es_key_nano"))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= 10)
        .select($"doc_id", $"lang", $"n_chars".cast("long").as("n_chars"),
          $"es_key_nano", $"__rk".cast("long").as("rk"))
    }, Some("""
      SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        es_key_nano, CAST(rk AS BIGINT) AS rk FROM (
        SELECT doc_id, lang, n_chars, es_key_nano,
          row_number() OVER (PARTITION BY lang
            ORDER BY es_key_nano DESC, doc_id ASC) AS rk
        FROM (
          SELECT doc_id, lang, n_chars,
            CAST(floor(ln(CAST((((((doc_id % 1000003) + 1000003) % 1000003
                     * 2654435761 + 40503) % 1000003 + 1000003) % 1000003
                     * 2 + 1) AS DOUBLE) / CAST(2000006 AS DOUBLE))
                 / CAST(greatest(n_chars, 1) AS DOUBLE) * 1000000000) AS BIGINT)
              AS es_key_nano
          FROM documents))
      WHERE rk <= 10""")),

    // Cross-source quantile normalization (q85's consumer): each doc's
    // per-source quality rank is mapped to the GLOBAL quality value at
    // the same permille — the calibration that makes "top 10% of srcA"
    // and "top 10% of srcB" comparable before a corpus-wide threshold
    // (per-source graders drift; ranks don't). Mechanics: the global
    // quantile function g(pm) = min{v : cdf(v) >= pm/1000} is built as
    // contiguous permille intervals per DISTINCT quality value, then
    // exploded to one row per permille — the doc-side lookup is a plain
    // equi-join on pm. Scale shape: the per-source percent_rank window
    // is source-partitioned (q85); the quantile-function frames ride
    // the DISTINCT qmilli grid — value-domain bounded (<= 1001 rows by
    // construction, q110 argument) — and the pm map (<= 1001 rows) is
    // AQE-adjudicated on the join; all-integer interval arithmetic.
    Q("q170_quantile_normalize", (s, d) => {
      import s.implicits._
      // docs feeds the count, the value grid, and the ranked lookup:
      // persist so the quality expression runs once per row
      val docs = t(s, d, "documents")
        .select($"doc_id", $"source",
          floor(TextOps.qualityRaw($"text") * 1000).cast("long").as("qmilli"))
        .persist()
      val n1 = docs.agg(count(lit(1)).as("n"))
      val wV = Window.orderBy($"v".asc)
      val cum = docs.groupBy($"qmilli".as("v")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum($"c").over(
          wV.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(n1))
        .withColumn("hi", expr("(cum * 1000) div n"))
      val pmMap = cum
        .withColumn("ph", lag($"hi", 1).over(wV))
        .withColumn("lo", when($"ph".isNull, lit(0L)).otherwise($"ph" + 1))
        .filter($"hi" >= $"lo")
        .select($"v", explode(sequence($"lo", $"hi")).as("pm"))
      val wS = Window.partitionBy($"source")
        .orderBy($"qmilli".asc, $"doc_id".asc)
      docs
        .withColumn("pm", floor(percent_rank().over(wS) * 1000).cast("long"))
        .join(pmMap, "pm")
        .select($"doc_id", $"source", $"qmilli", $"pm",
          $"v".as("qnorm_milli"))
    }, Some("""
      WITH q AS (
        SELECT doc_id, source,
          CAST(floor((least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
            (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
            least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2)
            * 1000) AS BIGINT) AS qmilli
        FROM documents),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
      grid AS (SELECT qmilli AS v, CAST(count(*) AS BIGINT) AS c
               FROM q GROUP BY 1),
      cum AS (SELECT v, sum(c) OVER (ORDER BY v ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM grid),
      hilo AS (SELECT v, CAST((cum * 1000) // n.n AS BIGINT) AS hi,
                 CAST(lag((cum * 1000) // n.n) OVER (ORDER BY v ASC)
                      AS BIGINT) AS ph
               FROM cum CROSS JOIN n),
      iv AS (SELECT v, CAST(coalesce(ph + 1, 0) AS BIGINT) AS lo, hi
             FROM hilo WHERE hi >= coalesce(ph + 1, 0)),
      pmv AS (SELECT v, unnest(generate_series(lo, hi)) AS pm FROM iv),
      r AS (SELECT doc_id, source, qmilli,
              CAST(floor(percent_rank() OVER (PARTITION BY source
                ORDER BY qmilli ASC, doc_id ASC) * 1000) AS BIGINT) AS pm
            FROM q)
      SELECT r.doc_id, r.source, r.qmilli, r.pm, pmv.v AS qnorm_milli
      FROM r JOIN pmv ON pmv.pm = r.pm""")),

    // Importance-weight effective sample size (the resampling health
    // check behind every mixture re-balancing): weight each doc toward
    // a LANGUAGE-UNIFORM target (w ∝ 1/p(lang), integer milli), then
    // per source report Kish's ESS = (Σw)²/Σw² as a ppm fraction of
    // its docs — 1e6 means reweighting is free for that source, small
    // means a few heavy docs dominate and the source effectively
    // shrinks. Exactness: weights are pure integer row functions;
    // ESS is ONE floor over integer-fed doubles (products/divides are
    // correctly-rounded IEEE, identical both engines) — no overflow
    // at any corpus size, unlike an all-integer (Σw)² which clips
    // past ~3e9 milli-mass. Scale shape: one map-side-combined lang
    // agg (registry-sized), its 1-row total broadcast, one doc-keyed
    // registry join, one map-side-combined source agg.
    Q("q224_importance_ess", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select($"doc_id", $"source", $"lang")
      val lc = docs.groupBy($"lang").agg(count(lit(1)).as("nl"))
      val tot = lc.agg(sum($"nl").as("n"), count(lit(1)).as("nlang"))
      docs.join(lc, "lang").crossJoin(broadcast(tot))
        .select($"source", expr("(n * 1000) div (nlang * nl)").as("wm"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"wm").as("sw"),
          sum($"wm" * $"wm").as("sw2"), max($"wm").as("max_w_milli"))
        .select($"source", $"n_docs", $"sw".as("sum_w_milli"),
          $"max_w_milli",
          expr("""CASE WHEN sw2 = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(1000000 * (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))
              / (CAST(n_docs AS DOUBLE) * CAST(sw2 AS DOUBLE))) AS BIGINT)
            END""").as("ess_ppm"))
    }, Some("""
      WITH lc AS (SELECT lang, count(*) AS nl FROM documents GROUP BY 1),
      tot AS (SELECT sum(nl) AS n, count(*) AS nlang FROM lc),
      w AS (SELECT d.source, (tot.n * 1000) // (tot.nlang * lc.nl) AS wm
            FROM documents d JOIN lc USING (lang) CROSS JOIN tot),
      g AS (SELECT source, count(*) AS n_docs, sum(wm) AS sw,
              sum(wm * wm) AS sw2, max(wm) AS max_w_milli
            FROM w GROUP BY 1)
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(sw AS BIGINT) AS sum_w_milli,
        CAST(max_w_milli AS BIGINT) AS max_w_milli,
        CAST(CASE WHEN sw2 = 0 THEN 0
          ELSE floor(1000000 * (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))
            / (CAST(n_docs AS DOUBLE) * CAST(sw2 AS DOUBLE))) END AS BIGINT)
          AS ess_ppm
      FROM g""")),

    // Training-order interleaving audit (does q106's shuffle actually
    // interleave sources?): same-source RUN LENGTHS in the per-shard
    // training order, per source — long runs mean consecutive batches
    // see one source and gradient noise correlates (the thing the
    // hash-shuffle exists to prevent). Gaps-and-islands: within each
    // (shard, source), run id = pos - per-source-rank, then run
    // lengths by (shard, source, run). Scale shape: both windows ride
    // the BOUNDED shard (q106's scale knob — shard count grows with
    // the corpus, a shard stays ~1M docs); rollup is registry-sized.
    // Expected mean run under random order is 1/(1-p_source) ≈ 1.05 —
    // a mean_run_milli far above that flags a broken shuffle.
    Q("q225_order_runs", (s, d) => {
      import s.implicits._
      val base = t(s, d, "documents")
        .select($"doc_id", $"source",
          CorpusOps.hashMix($"doc_id", 1000003L).as("prio"))
        .withColumn("shard", pmod($"prio", lit(8L)))
      val w = Window.partitionBy($"shard").orderBy($"prio".asc, $"doc_id".asc)
      val ordered = base
        .withColumn("pos", row_number().over(w).cast("long") - 1)
      val wS = Window.partitionBy($"shard", $"source").orderBy($"pos".asc)
      ordered
        .withColumn("rn", row_number().over(wS).cast("long"))
        .withColumn("grp", $"pos" - $"rn")
        .groupBy($"shard", $"source", $"grp")
        .agg(count(lit(1)).as("len"))
        .groupBy($"source")
        .agg(sum($"len").as("n_docs"), count(lit(1)).as("n_runs"),
          max($"len").as("max_run"),
          expr("(sum(len) * 1000) div count(1)").as("mean_run_milli"))
    }, Some("""
      WITH d AS (
        SELECT doc_id, source,
          ((((doc_id % 1000003) + 1000003) % 1000003 * 2654435761 + 40503)
             % 1000003 + 1000003) % 1000003 AS prio
        FROM documents),
      o AS (
        SELECT doc_id, source, prio % 8 AS shard,
          CAST(row_number() OVER (PARTITION BY prio % 8
            ORDER BY prio ASC, doc_id ASC) - 1 AS BIGINT) AS pos
        FROM d),
      r AS (
        SELECT shard, source, pos,
          pos - row_number() OVER (PARTITION BY shard, source
            ORDER BY pos ASC) AS grp
        FROM o),
      runs AS (SELECT shard, source, grp, count(*) AS len
               FROM r GROUP BY 1, 2, 3)
      SELECT source, CAST(sum(len) AS BIGINT) AS n_docs,
        CAST(count(*) AS BIGINT) AS n_runs,
        CAST(max(len) AS BIGINT) AS max_run,
        CAST((sum(len) * 1000) // count(*) AS BIGINT) AS mean_run_milli
      FROM runs GROUP BY 1""")),

    // Bloom-filter false-positive audit (the estimator-calibration
    // pass for q81's decontamination gate, the q222 pattern applied
    // to the Bloom family): empirical FPR over the true non-member
    // population vs the occupancy-based expectation (bits_set/m)^k —
    // ALL INTEGER, no exp() (whose last-ulp rounding is not
    // guaranteed identical across engines, unlike the division the
    // occupancy form needs). A measured FPR far above expectation
    // means correlated hash positions; far below means the member
    // set double-counted. Scale shape: identical to q81 (constant
    // 32-word filter broadcast, zero corpus-side shuffles beyond the
    // member agg); the audit adds one 1-row rollup.
    Q("q235_bloom_fpr_audit", (s, d) => {
      import s.implicits._
      val fps = t(s, d, "documents")
        .select($"doc_id", TextOps.fingerprint($"text").as("fp"))
      val bench = DedupOps
        .md5Buckets(fps.filter($"doc_id" % 20 === 0), $"fp", k = 3,
          mod = 1024)
        .persist()
      val bloom = bench
        .select(explode(array($"b0", $"b1", $"b2")).as("p"))
        .groupBy(expr("p div 32").as("word"))
        .agg(expr("bit_or(shiftleft(1L, cast(p % 32 as int)))").as("bits"))
        .persist()
      val bitsSet = bloom.agg(
        sum(expr("bit_count(bits)")).cast("long").as("bits_set"))
      val corpus = DedupOps
        .md5Buckets(fps.filter($"doc_id" % 20 =!= 0), $"fp", k = 3,
          mod = 1024)
      val probed = (0 until 3).foldLeft(corpus) { (acc, j) =>
        acc.join(
          broadcast(bloom.select(col("word").as(s"w$j"),
            col("bits").as(s"bits$j"))),
          expr(s"b$j div 32") === col(s"w$j"), "left_outer")
      }
      def hit(j: Int) = coalesce(
        expr(s"(shiftright(bits$j, cast(b$j % 32 as int)) & 1L) = 1L"),
        lit(false))
      val exact = bench.select($"fp").distinct().withColumn("__im", lit(true))
      probed.join(exact, Seq("fp"), "left_outer")
        .select((hit(0) && hit(1) && hit(2)).as("mm"),
          coalesce($"__im", lit(false)).as("im"))
        .filter(!$"im") // FPR is defined over true non-members only
        .agg(count(lit(1)).as("n_nonmembers"),
          sum(when($"mm", 1L).otherwise(0L)).as("n_false_pos"))
        .crossJoin(broadcast(bitsSet))
        .crossJoin(broadcast(
          bench.select($"fp").distinct().agg(count(lit(1)).as("n_members"))))
        .select($"n_members", $"bits_set", $"n_nonmembers", $"n_false_pos",
          expr("(n_false_pos * 1000000) div n_nonmembers")
            .as("fpr_emp_ppm"),
          expr("(bits_set * bits_set * bits_set * 1000000) div 1073741824")
            .as("fpr_occ_ppm"))
    }, Some {
      val hv = (j: Int) => DedupQueries.hvDuckOf(s"(fp || ':$j')")
      s"""WITH f AS (
         |  SELECT doc_id,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |pos AS (
         |  SELECT doc_id, fp, j,
         |    CASE j WHEN 0 THEN (${hv(0)}) % 1024
         |           WHEN 1 THEN (${hv(1)}) % 1024
         |           ELSE (${hv(2)}) % 1024 END AS p
         |  FROM f CROSS JOIN (SELECT unnest(range(0, 3)) AS j) js),
         |bloom AS (
         |  SELECT p // 32 AS word,
         |         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
         |  FROM pos WHERE doc_id % 20 = 0 GROUP BY 1),
         |bs AS (SELECT sum(bit_count(bits)) AS bits_set FROM bloom),
         |nm AS (SELECT count(DISTINCT fp) AS n_members FROM f
         |       WHERE doc_id % 20 = 0),
         |m AS (
         |  SELECT pr.doc_id, pr.fp,
         |    bool_and(coalesce((b.bits >> CAST(pr.p % 32 AS INT)) & 1, 0) = 1)
         |      AS mm
         |  FROM (SELECT * FROM pos WHERE doc_id % 20 <> 0) pr
         |  LEFT JOIN bloom b ON b.word = pr.p // 32
         |  GROUP BY 1, 2),
         |bf AS (SELECT DISTINCT fp FROM f WHERE doc_id % 20 = 0),
         |g AS (
         |  SELECT count(*) AS n_nonmembers,
         |    sum(CASE WHEN m.mm THEN 1 ELSE 0 END) AS n_false_pos
         |  FROM m LEFT JOIN bf ON bf.fp = m.fp
         |  WHERE bf.fp IS NULL)
         |SELECT CAST(nm.n_members AS BIGINT) AS n_members,
         |  CAST(bs.bits_set AS BIGINT) AS bits_set,
         |  CAST(g.n_nonmembers AS BIGINT) AS n_nonmembers,
         |  CAST(g.n_false_pos AS BIGINT) AS n_false_pos,
         |  CAST((g.n_false_pos * 1000000) // g.n_nonmembers AS BIGINT)
         |    AS fpr_emp_ppm,
         |  CAST((bs.bits_set * bs.bits_set * bs.bits_set * 1000000)
         |    // 1073741824 AS BIGINT) AS fpr_occ_ppm
         |FROM g CROSS JOIN bs CROSS JOIN nm""".stripMargin
    }),

    // Negative-sampling table apportionment (word2vec's unigram^0.75
    // distribution as an EXACT 10,000-slot table): each frequency
    // class gets slots proportional to m·f^0.75, largest-remainder
    // apportioned so the slots sum to exactly 10,000 (q166's method
    // lifted to the class grid). f^0.75 = sqrt(f·sqrt(f)) — two
    // correctly-rounded IEEE sqrts, engine-identical, instead of
    // pow()/exp() whose last-ulp rounding is not guaranteed. Scale
    // shape: vocabulary agg collapses to the value-domain-bounded
    // frequency-class grid (q227 argument); apportionment windows
    // ride that grid; output is class-level (types within a class
    // are exchangeable, so per-type tables derive by division
    // downstream).
    Q("q238_negative_sampling", (s, d) => {
      import s.implicits._
      val tf = t(s, d, "documents")
        .select(explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("f"))
      val classes = tf.groupBy($"f").agg(count(lit(1)).as("m"))
        .withColumn("w_milli", expr(
          """cast(floor(1000 * sqrt(cast(f as double) *
            sqrt(cast(f as double)))) as long)"""))
        .withColumn("cw", $"m" * $"w_milli")
      val tot = classes.agg(sum($"cw").as("tw"))
      val based = classes.crossJoin(broadcast(tot))
        .withColumn("base", expr("(10000 * cw) div tw"))
        .withColumn("rem", expr("(10000 * cw) % tw"))
      val left = based.agg((lit(10000L) - sum($"base")).as("leftover"))
      val wR = Window.orderBy($"rem".desc, $"f".desc)
      based.crossJoin(broadcast(left))
        .withColumn("rk", row_number().over(wR))
        .select($"f", $"m", $"w_milli",
          ($"base" + when($"rk" <= $"leftover", 1L).otherwise(0L))
            .as("slots"))
        .filter($"slots" > 0)
    }, Some("""
      WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+'))
                     AS tok FROM documents),
      tf AS (SELECT tok, count(*) AS f FROM tok GROUP BY 1),
      cls AS (
        SELECT f, count(*) AS m,
          CAST(floor(1000 * sqrt(CAST(f AS DOUBLE) *
            sqrt(CAST(f AS DOUBLE)))) AS BIGINT) AS w_milli
        FROM tf GROUP BY 1),
      c2 AS (SELECT f, m, w_milli, m * w_milli AS cw FROM cls),
      tot AS (SELECT sum(cw) AS tw FROM c2),
      b AS (SELECT c2.*, (10000 * cw) // tot.tw AS base,
              (10000 * cw) % tot.tw AS rem
            FROM c2 CROSS JOIN tot),
      lo AS (SELECT 10000 - sum(base) AS leftover FROM b),
      r AS (SELECT b.*, lo.leftover,
              row_number() OVER (ORDER BY rem DESC, f DESC) AS rk
            FROM b CROSS JOIN lo)
      SELECT CAST(f AS BIGINT) AS f, CAST(m AS BIGINT) AS m,
        w_milli,
        CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
          AS slots
      FROM r
      WHERE base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END > 0""")),

    // Token-mass Lorenz deciles ("the longest 10% of docs hold 38% of
    // all tokens"): the concentration table behind batching and
    // pricing decisions — q60 gives length percentiles, q197 a Gini
    // over user activity; this is the doc→token-mass CURVE, exact at
    // every decile cut including mid-grid-row cuts (docs at one
    // length are interchangeable, so the partial row contributes
    // (need − cum_before)·v tokens — pure integers, no float
    // interpolation). Scale shape: corpus → DISTINCT length grid in
    // ONE map-side-combined agg; cum windows ride the grid (q143
    // class); the 10-row decile frame inequality-joins the grid
    // (BNLJ over two bounded frames, q217 class).
    Q("q258_lorenz_deciles", (s, d) => {
      import s.implicits._
      val lens = t(s, d, "documents")
        .select(TextOps.tokenCount($"text").cast("long").as("v"))
      val wG = Window.orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val grid = lens.groupBy($"v").agg(count(lit(1)).as("k"))
        .withColumn("cumd", sum($"k").over(wG))
        .withColumn("cumt", sum($"k" * $"v").over(wG))
      val tot = lens.agg(count(lit(1)).as("n"),
        sum($"v").as("tt"))
      val dec = s.range(1, 11).toDF("decile")
      dec.crossJoin(broadcast(tot))
        .withColumn("need", expr("(n * decile) div 10"))
        .join(broadcast(grid),
          $"cumd" - $"k" < $"need" && $"cumd" >= $"need")
        .select($"decile", $"need".as("cum_docs"),
          (($"cumt" - $"k" * $"v") +
            ($"need" - ($"cumd" - $"k")) * $"v").as("cum_tokens"),
          $"tt")
        .select($"decile", $"cum_docs", $"cum_tokens",
          expr("(cum_tokens * 1000000) div tt").as("share_ppm"))
    }, Some("""
      WITH l AS (
        SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
          AS v
        FROM documents),
      g AS (SELECT v, count(*) AS k FROM l GROUP BY 1),
      gg AS (SELECT v, k,
               sum(k) OVER (ORDER BY v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumd,
               sum(k * v) OVER (ORDER BY v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumt
             FROM g),
      tot AS (SELECT count(*) AS n, sum(v) AS tt FROM l),
      dec AS (SELECT unnest(range(1, 11)) AS decile),
      j AS (
        SELECT d.decile, (tot.n * d.decile) // 10 AS need, gg.*, tot.tt
        FROM dec d CROSS JOIN tot JOIN gg
          ON gg.cumd - gg.k < (tot.n * d.decile) // 10
         AND gg.cumd >= (tot.n * d.decile) // 10)
      SELECT CAST(decile AS BIGINT) AS decile,
        CAST(need AS BIGINT) AS cum_docs,
        CAST((cumt - k * v) + (need - (cumd - k)) * v AS BIGINT)
          AS cum_tokens,
        CAST((((cumt - k * v) + (need - (cumd - k)) * v) * 1000000) // tt
          AS BIGINT) AS share_ppm
      FROM j""")),

    // Held-out cross-entropy per split (val/test docs scored under the
    // Laplace-smoothed unigram LM fitted on the TRAIN split only) —
    // the actual language-model eval number: q73 scores docs under a
    // corpus-wide LM (no held-out separation), q120 counts n-gram
    // COVERAGE; this is the train/eval protocol end-to-end, the gate
    // a data-mixture change is judged by. OOV handling is the Laplace
    // floor: an unseen token costs ln(N+V) exactly (c=0 -> (0+1)/(N+V)
    // -- V = TRAIN vocabulary, the add-1 denominator convention).
    // Exactness: per-token nll = floor(ln((N+V)/(c+1))*1e9) on an
    // integer-fed double ratio (q207 convention); eval mass integer-
    // weighted; ONE div per split row. Scale shape: splits are the
    // q84 pure-hash row function (rerun/engine/repartition-stable);
    // train LM is ONE (token) map-side-combined agg; eval tokens
    // collapse to (split, token) BEFORE the vocabulary-keyed left
    // join (never row-per-token joins); 1-row (N, V) broadcast.
    Q("q301_heldout_perplexity", (s, d) => {
      import s.implicits._
      val h = CorpusOps.hashMix($"doc_id", 1000L)
      val docs = t(s, d, "documents").select($"doc_id",
        when(h < 980, "train").when(h < 990, "val").otherwise("test")
          .as("split"),
        explode(TextOps.tokens($"text")).as("tok"))
      val train = docs.filter($"split" === "train")
        .groupBy($"tok").agg(count(lit(1)).as("c")).persist()
      val nv = train.agg(sum($"c").as("nn"), count(lit(1)).as("v"))
      val ev = docs.filter($"split" =!= "train")
        .groupBy($"split", $"tok").agg(count(lit(1)).as("m"))
      ev.join(train, Seq("tok"), "left_outer")
        .crossJoin(broadcast(nv))
        .select($"split", $"m", coalesce($"c", lit(0L)).as("c"), $"nn",
          $"v",
          ($"m" * expr("""cast(floor(ln((cast(nn as double) + cast(v as double))
            / (cast(coalesce(c, 0) as double) + 1.0)) * 1000000000)
            as bigint)""")).as("nll"),
          when($"c".isNull || $"c" === 0, $"m").otherwise(0L).as("oovm"))
        .groupBy($"split")
        .agg(sum($"m").as("n_tokens"),
          expr("(sum(oovm) * 1000000) div sum(m)").as("oov_ppm"),
          expr("sum(nll) div sum(m)").as("xent_nano"))
    }, Some("""
      WITH tok AS (
        SELECT doc_id,
          CASE WHEN ((((doc_id % 1000003) + 1000003) % 1000003
                 * 2654435761 + 40503) % 1000 + 1000) % 1000 < 980
               THEN 'train'
               WHEN ((((doc_id % 1000003) + 1000003) % 1000003
                 * 2654435761 + 40503) % 1000 + 1000) % 1000 < 990
               THEN 'val' ELSE 'test' END AS split,
          unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents),
      train AS (SELECT tok, count(*) AS c FROM tok
                WHERE split = 'train' GROUP BY 1),
      nv AS (SELECT sum(c) AS nn, count(*) AS v FROM train),
      ev AS (SELECT split, tok, count(*) AS m FROM tok
             WHERE split <> 'train' GROUP BY 1, 2),
      sc AS (
        SELECT ev.split, ev.m, coalesce(train.c, 0) AS c, nv.nn, nv.v,
          ev.m * CAST(floor(ln((CAST(nv.nn AS DOUBLE) + CAST(nv.v AS DOUBLE))
            / (CAST(coalesce(train.c, 0) AS DOUBLE) + 1.0)) * 1000000000)
            AS BIGINT) AS nll,
          CASE WHEN coalesce(train.c, 0) = 0 THEN ev.m ELSE 0 END AS oovm
        FROM ev LEFT JOIN train USING (tok) CROSS JOIN nv)
      SELECT split, CAST(sum(m) AS BIGINT) AS n_tokens,
        CAST((sum(oovm) * 1000000) // sum(m) AS BIGINT) AS oov_ppm,
        CAST(sum(nll) // sum(m) AS BIGINT) AS xent_nano
      FROM sc GROUP BY 1""")),

    // Stupid-backoff bigram LM, held-out (the Brants et al. 2007
    // web-scale scoring rule: p = c2/c1(w1) when the bigram was seen
    // in TRAIN, else 0.4 · Laplace-unigram(w2) — no discounting mass
    // to renormalize, which is exactly why it scales) — the next rung
    // above q301's unigram protocol: the bigram-vs-unigram xent DROP
    // on the same splits is the "is there sequence signal worth a
    // bigger model" readout. Exactness: seen-path nll =
    // floor(ln(c1/c2)·1e9), backoff nll = floor(ln(2.5·(N+V)/(c+1))
    // ·1e9) — each ONE ln on an integer-fed double expression spelled
    // identically in both engines (q207 convention; 2.5 = 1/0.4 is
    // exact binary). Scale shape: splits row-local (q84 hash); train
    // bigram/unigram tables are vocabulary-keyed aggs (model grows
    // with the corpus — joined, never broadcast); eval collapses to
    // (split, bigram) BEFORE the three vocabulary-keyed left joins;
    // the only broadcast is the 1-row (N, V) frame.
    Q("q305_backoff_xent", (s, d) => {
      import s.implicits._
      val h = CorpusOps.hashMix($"doc_id", 1000L)
      val docs = t(s, d, "documents").select($"doc_id", $"text",
        when(h < 980, "train").when(h < 990, "val").otherwise("test")
          .as("split"))
      // round-15 opt: split rides the row through the row-local gram
      // explode — no doc-keyed join-back of the bigram stream
      val bgAll = docs.select($"split",
        explode(TextOps.shingles(TextOps.tokens($"text"), 2)).as("bg"))
      val c2 = bgAll.filter($"split" === "train")
        .groupBy($"bg").agg(count(lit(1)).as("c2"))
      val c1 = docs.filter($"split" === "train")
        .select(explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("c1")).persist()
      val nv = c1.agg(sum($"c1").as("nn"), count(lit(1)).as("v"))
      val ev = bgAll.filter($"split" =!= "train")
        .groupBy($"split", $"bg").agg(count(lit(1)).as("m"))
        .withColumn("w1", substring_index($"bg", " ", 1))
        .withColumn("w2", substring_index($"bg", " ", -1))
      ev.join(c2, Seq("bg"), "left_outer")
        .join(c1.select($"tok".as("w1"), $"c1".as("c1a")), Seq("w1"),
          "left_outer")
        .join(c1.select($"tok".as("w2"), $"c1".as("c1b")), Seq("w2"),
          "left_outer")
        .crossJoin(broadcast(nv))
        .select($"split", $"m",
          when($"c2".isNotNull, 0L).otherwise($"m").as("bkm"),
          ($"m" * when($"c2".isNotNull,
            expr("""cast(floor(ln(cast(c1a as double) / cast(c2 as double))
              * 1000000000) as bigint)"""))
            .otherwise(expr("""cast(floor(ln(2.5 *
              (cast(nn as double) + cast(v as double))
              / (cast(coalesce(c1b, 0) as double) + 1.0)) * 1000000000)
              as bigint)"""))).as("nll"))
        .groupBy($"split")
        .agg(sum($"m").as("n_bigrams"),
          expr("(sum(bkm) * 1000000) div sum(m)").as("backoff_ppm"),
          expr("sum(nll) div sum(m)").as("xent_nano"))
    }, Some("""
      WITH dd AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
          CASE WHEN ((((doc_id % 1000003) + 1000003) % 1000003
                 * 2654435761 + 40503) % 1000 + 1000) % 1000 < 980
               THEN 'train'
               WHEN ((((doc_id % 1000003) + 1000003) % 1000003
                 * 2654435761 + 40503) % 1000 + 1000) % 1000 < 990
               THEN 'val' ELSE 'test' END AS split
        FROM documents),
      bg AS (
        SELECT split,
          unnest(list_transform(range(1, greatest(len(toks), 2)),
            i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM dd WHERE len(toks) >= 2),
      c2 AS (SELECT bg, count(*) AS c2 FROM bg
             WHERE split = 'train' GROUP BY 1),
      tk AS (SELECT unnest(toks) AS tok FROM dd WHERE split = 'train'),
      c1 AS (SELECT tok, count(*) AS c1 FROM tk GROUP BY 1),
      nv AS (SELECT sum(c1) AS nn, count(*) AS v FROM c1),
      ev AS (SELECT split, bg, count(*) AS m,
               string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
             FROM bg WHERE split <> 'train' GROUP BY 1, 2),
      sc AS (
        SELECT ev.split, ev.m,
          CASE WHEN c2.c2 IS NOT NULL THEN 0 ELSE ev.m END AS bkm,
          ev.m * CASE WHEN c2.c2 IS NOT NULL THEN
            CAST(floor(ln(CAST(ca.c1 AS DOUBLE) / CAST(c2.c2 AS DOUBLE))
              * 1000000000) AS BIGINT)
          ELSE
            CAST(floor(ln(2.5 * (CAST(nv.nn AS DOUBLE) + CAST(nv.v AS DOUBLE))
              / (CAST(coalesce(cb.c1, 0) AS DOUBLE) + 1.0)) * 1000000000)
              AS BIGINT)
          END AS nll
        FROM ev LEFT JOIN c2 USING (bg)
        LEFT JOIN c1 ca ON ca.tok = ev.w1
        LEFT JOIN c1 cb ON cb.tok = ev.w2
        CROSS JOIN nv)
      SELECT split, CAST(sum(m) AS BIGINT) AS n_bigrams,
        CAST((sum(bkm) * 1000000) // sum(m) AS BIGINT) AS backoff_ppm,
        CAST(sum(nll) // sum(m) AS BIGINT) AS xent_nano
      FROM sc GROUP BY 1""")),

    // Feature-hashing collision audit (the hashing-trick cost table:
    // hash the token vocabulary into 2^k buckets for k = 8, 10, 12;
    // per size, the share of TYPES that collide and — the number that
    // actually hurts a linear model — the share of token MASS landing
    // in buckets contaminated by >1 type) — the dimensioning readout
    // for every hashed feature space (vowpal-style models, hashed
    // embedding tables): types collide fast by birthday math, but the
    // mass view says whether FREQUENT features stay clean. Exactness:
    // pure integer counts off the shared hv32 device; ppm floors.
    // Scale shape: ONE (token) map-side-combined agg collapses the
    // corpus; per size ONE vocabulary-keyed bucket agg + registry
    // rollup; the 3-row size frame is literal.
    Q("q325_feature_hashing", (s, d) => {
      import s.implicits._
      val hv = DedupOps.hv32Sql("tok")
      val vocab = t(s, d, "documents")
        .select(explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("f"))
        .select($"tok", $"f", expr(hv).as("h"))
      val sizes = Seq(256L, 1024L, 4096L).toDF("b")
      vocab.crossJoin(broadcast(sizes))
        .select($"b", expr("h % b").as("bucket"), $"f")
        .groupBy($"b", $"bucket")
        .agg(count(lit(1)).as("types"), sum($"f").as("mass"))
        .groupBy($"b")
        .agg(sum($"types").as("n_types"),
          count(lit(1)).as("buckets_used"),
          sum(when($"types" > 1, $"types").otherwise(0L))
            .as("collided_types"),
          sum($"mass").as("total_mass"),
          sum(when($"types" > 1, $"mass").otherwise(0L))
            .as("collided_mass"))
        .select($"b".as("n_buckets"), $"n_types", $"buckets_used",
          expr("(collided_types * 1000000) div n_types")
            .as("type_collision_ppm"),
          expr("(collided_mass * 1000000) div total_mass")
            .as("mass_collision_ppm"))
    }, Some(s"""
      WITH tok AS (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents),
      vocab AS (
        SELECT tok, count(*) AS f,
          (${DedupQueries.hvDuckOf("tok")}) AS h
        FROM tok GROUP BY 1),
      sizes AS (SELECT CAST(b AS BIGINT) AS b
                FROM (VALUES (256), (1024), (4096)) v(b)),
      bk AS (
        SELECT sizes.b, vocab.h % sizes.b AS bucket,
          count(*) AS types, sum(vocab.f) AS mass
        FROM vocab CROSS JOIN sizes
        GROUP BY 1, 2)
      SELECT b AS n_buckets, CAST(sum(types) AS BIGINT) AS n_types,
        CAST(count(*) AS BIGINT) AS buckets_used,
        CAST((sum(CASE WHEN types > 1 THEN types ELSE 0 END) * 1000000)
          // sum(types) AS BIGINT) AS type_collision_ppm,
        CAST((sum(CASE WHEN types > 1 THEN mass ELSE 0 END) * 1000000)
          // sum(mass) AS BIGINT) AS mass_collision_ppm
      FROM bk GROUP BY 1""")),

    // Seeded-hash uniformity gate (chi-square of hashMix doc buckets
    // against uniform, plus the max bucket deviation) — the
    // self-audit for the ONE hash function every deterministic device
    // in this catalog rides (splits q84, arms q264/q311/q315, samples
    // q56/q122, labels q176): if hashMix were biased, every one of
    // those results would be silently skewed. 64 buckets; chi² =
    // Σ(o−e)²/e spelled integer as Σ(64·o−n)² div (64·n). The observed
    // buckets are DENSIFIED onto the full 0..63 grid (left join against
    // a 64-row range, o→0) before summing dev2: a bucket the hash never
    // hits contributes its full (64·0−n)²/(64n)=n/64 term — dropping it
    // (the round-10 ADVICE finding) understated the statistic exactly
    // in the skewed case the gate exists to catch. Exactness:
    // all-integer; the per-bucket deviation ppm exact. Scale shape:
    // ONE map-side-combined 64-bucket agg; 64-row grid join; 1-row
    // rollup.
    Q("q326_hash_uniformity", (s, d) => {
      import s.implicits._
      val b = t(s, d, "documents")
        .select(CorpusOps.hashMix($"doc_id", 64L).as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("o0"))
      val grid = s.range(0, 64).select($"id".as("bucket"))
      // both sides registry-sized (64-row grid vs <= 64 observed
      // buckets) — AQE adjudicates, unhinted (PlanAuditSpec convention)
      val dense = grid.join(b, Seq("bucket"), "left")
        .select($"bucket", coalesce($"o0", lit(0L)).as("o"))
      val tot = b.agg(sum($"o0").as("n"))
      dense.crossJoin(broadcast(tot))
        .select($"bucket", $"o", $"n",
          ((lit(64L) * $"o" - $"n") * (lit(64L) * $"o" - $"n"))
            .as("dev2"))
        .agg(sum(when($"o" > 0L, 1L).otherwise(0L)).as("buckets_hit"),
          max($"n").as("n"),
          expr("sum(dev2) div (64 * max(n))").as("chi2_milli64"),
          max(expr("greatest(64 * o - n, n - 64 * o) * 1000000 div n"))
            .as("max_dev_ppm"))
        .select($"buckets_hit", $"n".as("n_docs"),
          // df = 63, alpha = .05 critical value 82.529 — integer floor
          $"chi2_milli64".as("chi2_raw"), $"max_dev_ppm",
          when($"chi2_milli64" > 82L, 1L).otherwise(0L).as("biased_flag"))
    }, Some("""
      WITH b0 AS (
        SELECT ((((doc_id % 1000003) + 1000003) % 1000003
          * 2654435761 + 40503) % 64 + 64) % 64 AS bucket,
          count(*) AS o
        FROM documents GROUP BY 1),
      grid AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(64)),
      b AS (
        SELECT grid.bucket, CAST(coalesce(b0.o, 0) AS BIGINT) AS o
        FROM grid LEFT JOIN b0 ON b0.bucket = grid.bucket),
      t AS (SELECT sum(o) AS n FROM b),
      s AS (
        SELECT b.bucket, b.o, t.n,
          (64 * b.o - t.n) * (64 * b.o - t.n) AS dev2
        FROM b CROSS JOIN t)
      SELECT CAST(sum(CASE WHEN o > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS buckets_hit,
        CAST(max(n) AS BIGINT) AS n_docs,
        CAST(sum(dev2) // (64 * max(n)) AS BIGINT) AS chi2_raw,
        CAST(max(greatest(64 * o - n, n - 64 * o) * 1000000 // n)
          AS BIGINT) AS max_dev_ppm,
        CAST(CASE WHEN sum(dev2) // (64 * max(n)) > 82 THEN 1
          ELSE 0 END AS BIGINT) AS biased_flag
      FROM s""")),

    // Context-length packing-efficiency sweep: for each candidate
    // training context length L (128/256/512/1024 tokens), the padding
    // the one-doc-per-sequence baseline wastes (each doc occupies
    // ceil(toks/L) sequences) and how many docs must split — the
    // number that PICKS L before q57's packer runs at it (q57 packs at
    // ONE budget; q114 buckets by length; THIS sweeps the budget and
    // prices the naive baseline the packer must beat). Exactness:
    // all-integer ceil division ((toks + L − 1) div L) and ppm floors.
    // Scale: one corpus pass for token counts; the ×4 sweep is a
    // row-local explode of a LITERAL length array (no join, no second
    // scan); ONE map-side-combined agg per (L) — 4-row result.
    Q("q342_packing_sweep", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select(TextOps.tokenCount($"text").cast("long").as("toks"))
        .select($"toks", explode(lit(Array(128L, 256L, 512L, 1024L)))
          .as("ctx_len"))
        .select($"ctx_len", $"toks",
          expr("(toks + ctx_len - 1) div ctx_len").as("seqs"))
        .groupBy($"ctx_len")
        .agg(count(lit(1)).as("n_docs"),
          sum($"toks").as("total_tokens"),
          sum($"seqs").as("total_seqs"),
          sum(when($"toks" > $"ctx_len", 1L).otherwise(0L))
            .as("n_docs_split"),
          expr("""((sum(seqs) * max(ctx_len) - sum(toks)) * 1000000)
            div (sum(seqs) * max(ctx_len))""").as("padding_ppm"))
    }, Some("""
      WITH tk AS (
        SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
          AS toks
        FROM documents),
      sw AS (
        SELECT ctx_len, toks, (toks + ctx_len - 1) // ctx_len AS seqs
        FROM tk CROSS JOIN (
          SELECT CAST(unnest([128, 256, 512, 1024]) AS BIGINT) AS ctx_len))
      SELECT ctx_len, count(*) AS n_docs,
        CAST(sum(toks) AS BIGINT) AS total_tokens,
        CAST(sum(seqs) AS BIGINT) AS total_seqs,
        CAST(sum(CASE WHEN toks > ctx_len THEN 1 ELSE 0 END) AS BIGINT)
          AS n_docs_split,
        CAST((sum(seqs) * max(ctx_len) - sum(toks)) * 1000000
             // (sum(seqs) * max(ctx_len)) AS BIGINT) AS padding_ppm
      FROM sw GROUP BY 1""")),

    // DoReMi-style domain-reweighting ROUND (multiplicative-weights
    // update over per-domain excess loss — the Xie et al. 2023 feedback
    // step q72's STATIC temperature weights lack): per source, a proxy
    // loss (OOV-token rate vs the top-256 corpus vocabulary — rare-token
    // mass tracks LM loss), the corpus-wide reference loss, the positive
    // excess, one multiplicative bump w' = w0·(1 + excess), a
    // normalization, and 2% uniform smoothing — the next epoch's
    // sampling weights. Exactness: every rate and weight is integer ppm
    // arithmetic; corpus-sized counts go through DECIMAL(38,0) before
    // the ppm multiply (q353 convention — HUGEINT mirrors it in the
    // oracle). Scale shape: ONE corpus tokenize+tf pass; the vocabulary
    // agg is Heaps-bounded and its exact top-K rides globalTopK's
    // bucketed prefilter (q79 convention); the per-source agg map-side
    // combines to the 20-row registry; the reference loss and the
    // normalizer are 1-row broadcast cross joins — no corpus-side work
    // after the tf shuffle at any scale.
    Q("q358_doremi_reweight", (s, d) => {
      import s.implicits._
      val tf = t(s, d, "documents")
        .select($"source", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("tf"))
        .persist() // consumed by the vocab build AND the per-source agg
      val vocab = CorpusOps.globalTopK(
          tf.groupBy($"tok").agg(sum($"tf").as("cnt")),
          $"tok", k = 256, order = Seq($"cnt".desc, $"tok".asc))
        .select($"tok", lit(true).as("in_vocab"))
      // persisted: the 20-row registry frame feeds BOTH the `ref`
      // scalar agg and the `upd` crossJoin — without it the
      // tf→vocab-join→per-source agg chain executes twice (round-13
      // ADVICE)
      val src = tf.join(broadcast(vocab), Seq("tok"), "left_outer")
        .groupBy($"source")
        .agg(sum($"tf").cast("long").as("n_tokens"),
          sum(when($"in_vocab".isNull, $"tf").otherwise(0L)).cast("long")
            .as("n_oov"))
        .persist()
      val ref = src.agg(
        expr("""cast(cast(sum(n_oov) as decimal(38,0)) * 1000000
          div sum(n_tokens) as bigint)""").as("ref_ppm"),
        count(lit(1)).as("n_src"))
      val upd = src.crossJoin(broadcast(ref))
        .withColumn("loss_ppm",
          expr("""cast(cast(n_oov as decimal(38,0)) * 1000000
            div n_tokens as bigint)"""))
        .withColumn("excess_ppm",
          greatest($"loss_ppm" - $"ref_ppm", lit(0L)))
        .withColumn("w_raw", lit(1000000L) + $"excess_ppm")
      val totw = upd.agg(sum($"w_raw").as("wsum"))
      upd.crossJoin(broadcast(totw))
        .withColumn("w_norm_ppm",
          expr("""cast(cast(w_raw as decimal(38,0)) * 1000000
            div wsum as bigint)"""))
        .select($"source", $"n_tokens", $"n_oov", $"loss_ppm",
          $"excess_ppm",
          expr("""cast((980000 * w_norm_ppm
            + 20000 * (1000000 div n_src)) div 1000000 as bigint)""")
            .as("weight_ppm"))
    }, Some("""
      WITH tok AS (
        SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents),
      tf AS (SELECT source, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
      vc AS (SELECT tok, sum(tf) AS cnt FROM tf GROUP BY 1),
      vocab AS (SELECT tok FROM vc
                QUALIFY row_number() OVER (ORDER BY cnt DESC, tok ASC)
                  <= 256),
      src AS (SELECT source, sum(tf) AS n_tokens,
                sum(CASE WHEN v.tok IS NULL THEN tf ELSE 0 END) AS n_oov
              FROM tf LEFT JOIN vocab v USING (tok) GROUP BY 1),
      ref AS (SELECT CAST(CAST(sum(n_oov) AS HUGEINT) * 1000000
                  // sum(n_tokens) AS BIGINT) AS ref_ppm,
                count(*) AS n_src
              FROM src),
      upd AS (SELECT s.source, s.n_tokens, s.n_oov,
                CAST(CAST(s.n_oov AS HUGEINT) * 1000000 // s.n_tokens
                  AS BIGINT) AS loss_ppm,
                r.ref_ppm, r.n_src
              FROM src s CROSS JOIN ref r),
      u2 AS (SELECT *, greatest(loss_ppm - ref_ppm, 0) AS excess_ppm,
               1000000 + greatest(loss_ppm - ref_ppm, 0) AS w_raw
             FROM upd),
      tw AS (SELECT sum(w_raw) AS wsum FROM u2)
      SELECT u2.source, CAST(u2.n_tokens AS BIGINT) AS n_tokens,
        CAST(u2.n_oov AS BIGINT) AS n_oov, u2.loss_ppm,
        CAST(u2.excess_ppm AS BIGINT) AS excess_ppm,
        CAST((980000 * (CAST(u2.w_raw AS HUGEINT) * 1000000 // tw.wsum)
          + 20000 * (1000000 // u2.n_src)) // 1000000 AS BIGINT)
          AS weight_ppm
      FROM u2 CROSS JOIN tw""")),

    // greedy maximum-coverage selection (the Nemhauser-Wolsey-Fisher
    // (1-1/e) submodular greedy — the data-SELECTION primitive beside
    // q75's budget filter and q56's stratified sample: pick the k
    // documents that jointly cover the most distinct 3-token shingles,
    // the coreset/eval-set construction step): 4 rounds of marginal-
    // gain argmax over the uncovered-shingle frame, reporting per step
    // the chosen doc, its marginal gain, and cumulative coverage ppm —
    // the diminishing-returns curve that decides k. The coverage
    // universe is SHINGLES, not tokens (the corpus vocabulary is ~31
    // words — token coverage saturates at one document; the shingle
    // universe is Heaps-bounded but meaningful). Exactness: pure
    // counting; argmax is the (gain desc, doc_id asc) total order via
    // TakeOrderedAndProject (q300 convention). Scale shape: per round
    // ONE anti-join of the persisted distinct (doc, shingle) frame
    // against the persisted covered frame (both shuffle on the shingle
    // key — the covered side is vocabulary-sized, NEVER broadcast) +
    // one map-side-combined per-doc gain agg + a k=1 TakeOrdered; the
    // per-round frontier (covered set) is persisted (q193/q356
    // pattern); round count fixed at 4, so total cost is 4 linear
    // passes at any corpus size.
    Q("q360_greedy_coverage", (s, d) => {
      import s.implicits._
      val dt = TextOps
        .distinctShingleRows(t(s, d, "documents"), "doc_id", "text")
        .persist()
      val vocab = dt.agg(countDistinct($"shingle").as("v"))
      // the loop carries the SHRINKING remainder forward and anti-joins
      // each round against only the PREVIOUS pick's shingles (a frame
      // bounded by one document's length — AQE broadcasts it, so the
      // corpus-sized remainder is never reshuffled), instead of
      // re-anti-joining the full corpus frame against the GROWING
      // covered union each round. A/B at sf0.1: covered-union form with
      // per-round covered-count broadcasts 9.3 s (the 4 broadcast
      // exchanges materialize as concurrent jobs and race through the
      // shared chain), running-sum form over the growing union 7.1 s,
      // this form 4.6 s cold-window median with declining reps (3.2 s
      // floor). Each remainder is persisted: it feeds the gain
      // agg, the pick's new-shingle slice, and the next round's
      // anti-join.
      var rem = dt
      var out: Option[org.apache.spark.sql.DataFrame] = None
      for (r <- 1 to 4) {
        val pick = rem.groupBy($"doc_id").agg(count(lit(1)).as("gain"))
          .orderBy($"gain".desc, $"doc_id".asc).limit(1)
          .select(lit(r.toLong).as("step"), $"doc_id", $"gain")
          .persist()
        out = Some(out.map(_.unionAll(pick)).getOrElse(pick))
        if (r < 4) {
          val newShingles = rem.join(pick.select($"doc_id"), "doc_id")
            .select($"shingle")
          rem = rem.join(newShingles, Seq("shingle"), "left_anti")
            .persist()
        }
      }
      // cumulative coverage = running sum of the (disjoint) marginal
      // gains — one window over the 4-row step frame + ONE scalar
      // vocab broadcast
      val w = Window.orderBy($"step")
      out.get.crossJoin(broadcast(vocab))
        .withColumn("cum", sum($"gain").over(w))
        .select($"step", $"doc_id", $"gain".cast("long").as("gain"),
          expr("cum * 1000000 div v").as("cum_cov_ppm"))
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+')
                      AS toks
                    FROM documents),
      dt AS MATERIALIZED (SELECT DISTINCT doc_id,
          unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tok
        FROM toks),
      vn AS (SELECT count(DISTINCT tok) AS v FROM dt),
      g1 AS (SELECT doc_id, count(*) AS gain FROM dt GROUP BY 1),
      p1 AS (SELECT doc_id, gain FROM g1
             ORDER BY gain DESC, doc_id ASC LIMIT 1),
      c1 AS MATERIALIZED (SELECT dt.tok FROM dt JOIN p1 USING (doc_id)),
      r2 AS MATERIALIZED (SELECT dt.doc_id, dt.tok FROM dt ANTI JOIN c1 USING (tok)),
      g2 AS (SELECT doc_id, count(*) AS gain FROM r2 GROUP BY 1),
      p2 AS (SELECT doc_id, gain FROM g2
             ORDER BY gain DESC, doc_id ASC LIMIT 1),
      c2 AS MATERIALIZED (SELECT tok FROM c1
             UNION ALL SELECT r2.tok FROM r2 JOIN p2 USING (doc_id)),
      r3 AS MATERIALIZED (SELECT dt.doc_id, dt.tok FROM dt ANTI JOIN c2 USING (tok)),
      g3 AS (SELECT doc_id, count(*) AS gain FROM r3 GROUP BY 1),
      p3 AS (SELECT doc_id, gain FROM g3
             ORDER BY gain DESC, doc_id ASC LIMIT 1),
      c3 AS MATERIALIZED (SELECT tok FROM c2
             UNION ALL SELECT r3.tok FROM r3 JOIN p3 USING (doc_id)),
      r4 AS MATERIALIZED (SELECT dt.doc_id, dt.tok FROM dt ANTI JOIN c3 USING (tok)),
      g4 AS (SELECT doc_id, count(*) AS gain FROM r4 GROUP BY 1),
      p4 AS (SELECT doc_id, gain FROM g4
             ORDER BY gain DESC, doc_id ASC LIMIT 1),
      c4 AS MATERIALIZED (SELECT tok FROM c3
             UNION ALL SELECT r4.tok FROM r4 JOIN p4 USING (doc_id))
      SELECT CAST(1 AS BIGINT) AS step, p1.doc_id,
        CAST(p1.gain AS BIGINT) AS gain,
        CAST((SELECT count(*) FROM c1) * 1000000 // vn.v AS BIGINT)
          AS cum_cov_ppm
      FROM p1 CROSS JOIN vn
      UNION ALL SELECT 2, p2.doc_id, CAST(p2.gain AS BIGINT),
        CAST((SELECT count(*) FROM c2) * 1000000 // vn.v AS BIGINT)
      FROM p2 CROSS JOIN vn
      UNION ALL SELECT 3, p3.doc_id, CAST(p3.gain AS BIGINT),
        CAST((SELECT count(*) FROM c3) * 1000000 // vn.v AS BIGINT)
      FROM p3 CROSS JOIN vn
      UNION ALL SELECT 4, p4.doc_id, CAST(p4.gain AS BIGINT),
        CAST((SELECT count(*) FROM c4) * 1000000 // vn.v AS BIGINT)
      FROM p4 CROSS JOIN vn""")),
  )
}
