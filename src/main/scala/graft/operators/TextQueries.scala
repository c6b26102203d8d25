package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.catalog.{Q, QueryModule}
import graft.catalog.Tables.t

/** Text analysis + event-time operators (training-data pipeline surface):
  * windowed aggregation, sessionization, token counting, quality scoring,
  * dictionary language-ID, fingerprinting, shingling.
  */
object TextQueries extends QueryModule {

  private val D = DecimalType(12, 2)

  /** Dictionaries over the synthetic corpus vocabulary — varies per doc. */
  private val dicts = Seq(
    "en"     -> Seq("the", "a", "b"),
    "db"     -> Seq("join", "merge", "hash", "table", "scan", "key"),
    "stream" -> Seq("stream", "window", "batch", "event"),
    "perf"   -> Seq("fast", "slow", "small", "vector"))

  /** DuckDB twin of [[TextOps.qualityScore]] (q28's oracle expression). */
  private val qualitySql =
    """round(
      |  least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
      |  (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
      |  least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2,
      |  6)""".stripMargin

  /** DuckDB twin of [[TextOps.langId]]'s first-wins argmax CASE chain. */
  private def langCaseSql: String = {
    val h = dicts.map { case (name, words) =>
      name -> s"len(regexp_extract_all(text, '\\b(${words.mkString("|")})\\b'))"
    }
    h.zipWithIndex.init.foldRight(s"'${h.last._1}'") {
      case (((name, expr), i), rest) =>
        val conds = h.drop(i + 1).map(o => s"$expr >= ${o._2}").mkString(" AND ")
        s"CASE WHEN $conds THEN '$name' ELSE $rest END"
    }
  }

  def qs: Seq[Q] = Seq(

    // tumbling event-time window aggregation.
    Q("q25_hourly_window", (s, d) => {
      import s.implicits._
      t(s, d, "events")
        .groupBy(
          date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:00:00").as("hour"),
          $"event_type")
        .agg(count(lit(1)).as("n"),
             sum($"value".cast(D)).cast(DoubleType).as("total_value"))
    }, Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
             event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2""")),

    // sessionization: 30-min inactivity gap starts a new session.
    Q("q26_sessionize", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      t(s, d, "events")
        .withColumn("prev_ts", lag($"ts", 1).over(w))
        .withColumn("is_new",
          when($"prev_ts".isNull ||
               // cast: parquet ts is un-annotated (NTZ to Spark) — under
               // the UTC session tz the cast is identity for LTZ too
               (unix_micros($"ts".cast("timestamp")) -
                unix_micros($"prev_ts".cast("timestamp"))) > 1800000000L, 1L)
            .otherwise(0L))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"), sum($"is_new").as("n_sessions"))
    }, Some("""
      WITH x AS (
        SELECT user_id, ts,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
        FROM events)
      SELECT user_id, count(*) AS n_events,
        CAST(sum(CASE WHEN prev_ts IS NULL
                       OR (epoch_us(ts) - epoch_us(prev_ts)) > 1800000000
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
      FROM x GROUP BY user_id""")),

    // token counting: whitespace + BPE-ish regex pre-tokenization.
    Q("q27_token_count", (s, d) => {
      import s.implicits._
      t(s, d, "documents").select(
        $"doc_id",
        TextOps.tokenCount($"text").cast("long").as("n_ws_tokens"),
        size(TextOps.bpeTokens($"text")).cast("long").as("n_bpe_tokens"))
    }, Some("""
      SELECT doc_id,
        CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpe_tokens
      FROM documents""")),

    // composite quality score (length/alpha-ratio/stopword credits).
    Q("q28_quality_score", (s, d) => {
      import s.implicits._
      t(s, d, "documents").select(
        $"doc_id", TextOps.qualityScore($"text").as("quality"))
    }, Some("""
      SELECT doc_id,
        round(
          least(1.0, len(string_split_regex(trim(text), '\s+')) / 50.0) * 0.5 +
          (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text)) * 0.3 +
          least(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) / 10.0) * 0.2,
          6) AS quality
      FROM documents""")),

    // dictionary-hit argmax classification (language-ID shape; topic
    // dictionaries over this corpus's vocabulary).
    Q("q29_lang_id", (s, d) => {
      import s.implicits._
      t(s, d, "documents").select(
        $"doc_id", TextOps.langId($"text", dicts).as("pred"))
    }, Some(s"SELECT doc_id, $langCaseSql AS pred FROM documents")),

    // canonical document fingerprint (rolling-hash family; md5 of
    // case/whitespace-normalized text).
    Q("q30_fingerprint", (s, d) => {
      import s.implicits._
      t(s, d, "documents").select(
        $"doc_id", TextOps.fingerprint($"text").as("fp"))
    }, Some("""
      SELECT doc_id,
        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      FROM documents""")),

    // word-trigram shingling stats (the dedup unit). Round-15 opt: both
    // stats are PER-DOC facts, so the whole query is one row-local
    // projection — gram count from the token-array size, distinct count
    // via array_distinct (hash-set per row) — no explode, no agg, no
    // join, ZERO exchanges. (The round-1 "array-HOF form benched
    // 18 s/5k docs" pathology was the unbound split re-evaluated per
    // element_at, fixed in TextOps.shingles this round.)
    Q("q31_shingle_stats", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      // two-step select: the gram array materializes once per row
      // (CollapseProject keeps a non-cheap alias referenced twice)
      // coalesce pins the (0, 0) output for NULL text independent of
      // data and the legacy sizeOfNull config (round-15 ADVICE: datagen
      // never emits NULL text today, but the old join form guaranteed
      // 0/0 and this form must too)
      docs.select($"doc_id",
          TextOps.shingles(TextOps.tokens($"text")).as("__g"))
        .select($"doc_id",
          coalesce(size($"__g"), lit(0)).cast("long").as("n_shingles"),
          coalesce(size(array_distinct($"__g")), lit(0)).cast("long")
            .as("n_distinct"))
    }, Some("""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
      SELECT doc_id,
        CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS n_shingles,
        CAST(len(list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS BIGINT) AS n_distinct
      FROM d""")),

    // the composed curation pass a training-data pipeline actually runs:
    // score quality + classify + fingerprint in ONE scan, drop
    // low-quality docs, keep the canonical (min doc_id) doc per
    // fingerprint. The dedup is the rank=1 window shape, so it executes
    // through the custom TopKPerKeyExec operator — one shuffle on fp,
    // no per-partition sort.
    Q("q51_curation", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"fp").orderBy($"doc_id".asc)
      t(s, d, "documents")
        .select($"doc_id",
          TextOps.qualityScore($"text").as("quality"),
          TextOps.langId($"text", dicts).as("pred"),
          TextOps.fingerprint($"text").as("fp"))
        .filter($"quality" >= 0.5)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"doc_id", $"pred", $"quality")
    }, Some(
      s"""WITH scored AS (
         |  SELECT doc_id, $qualitySql AS quality, $langCaseSql AS pred,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents)
         |SELECT doc_id, pred, quality FROM scored
         |WHERE quality >= 0.5
         |QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) = 1""".stripMargin)),

    // within-document repetition signals (the Gopher-rules family): a doc
    // whose tokens or n-grams repeat heavily is boilerplate/spam and gets
    // filtered before training. dup_token_frac = 1 - distinct/total,
    // top_token_frac = mode count/total, dup_2gram_frac likewise over
    // bigrams. Token stats run on EXPLODED rows with map-side-combined
    // aggregates (the mode count needs the per-(doc, tok) agg); bigram
    // stats are row-local size/array_distinct over the gram array —
    // the "~11 ms/doc HOF pathology" recorded here in round 1 was the
    // unbound split re-evaluated per element_at (fixed in
    // TextOps.shingles, round-15 opt); array_distinct itself is
    // hash-set linear per doc.
    Q("q63_repetition", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val tokStats = docs
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id").agg(
          sum($"c").as("n"), count(lit(1)).as("nd"), max($"c").as("topc"))
      // round-15 opt: the bigram stats are per-doc facts — computed
      // row-locally from the gram array (size / array_distinct) instead
      // of a (doc, bigram) explode + countDistinct expand + agg; docs
      // with < 2 tokens yield ng = 0 (the old agg produced NO row and
      // the join NULL — both map to dup_2gram_frac 0.0)
      val bgStats = docs
        .select($"doc_id",
          TextOps.shingles(TextOps.tokens($"text"), 2).as("__g"))
        .select($"doc_id",
          coalesce(size($"__g"), lit(0)).cast("long").as("ng"),
          coalesce(size(array_distinct($"__g")), lit(0)).cast("long")
            .as("ndg"))
      tokStats.join(bgStats, Seq("doc_id"), "left_outer")
        .select($"doc_id",
          $"n".cast("long").as("n_tokens"),
          round(lit(1.0) - $"nd".cast("double") / $"n", 6).as("dup_token_frac"),
          round($"topc".cast("double") / $"n", 6).as("top_token_frac"),
          round(when($"ng".isNull || $"ng" === 0L, lit(0.0))
            .otherwise(lit(1.0) - $"ndg".cast("double") / $"ng"), 6)
            .as("dup_2gram_frac"))
    }, Some("""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                 FROM documents),
      g AS (SELECT doc_id,
              CASE WHEN len(toks) < 2 THEN 0.0
                   ELSE 1.0 - len(list_distinct(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i+1]))) * 1.0
                        / (len(toks) - 1) END AS d2
            FROM d),
      tf AS (SELECT doc_id, unnest(toks) AS tok FROM d),
      cnt AS (SELECT doc_id, tok, count(*) AS c FROM tf GROUP BY 1, 2),
      agg AS (SELECT doc_id, sum(c) AS n, count(*) AS nd, max(c) AS topc
              FROM cnt GROUP BY 1)
      SELECT a.doc_id, CAST(a.n AS BIGINT) AS n_tokens,
        round(1.0 - a.nd * 1.0 / a.n, 6) AS dup_token_frac,
        round(a.topc * 1.0 / a.n, 6) AS top_token_frac,
        round(g.d2, 6) AS dup_2gram_frac
      FROM agg a JOIN g ON g.doc_id = a.doc_id""")),

    // Gopher-style composite rule filter (Rae et al. 2021 §A1.1 family):
    // per-document boolean gates — word-count bounds, mean-word-length
    // bounds, symbol-to-char ratio, minimum stopword evidence — plus the
    // conjunctive pass flag a curation pipeline filters on. Every rule is
    // integer arithmetic (mean word length in [3,10] is checked as
    // 3*n <= chars <= 10*n, symbol ratio <= 10% as 10*sym <= len), so
    // the gate is engine-exact with no float rounding anywhere.
    // Row-local, codegen'd, zero shuffles at any corpus size.
    Q("q78_gopher_filter", (s, d) => {
      import s.implicits._
      val nWords = TextOps.tokenCount($"text").cast("long")
      val wordChars = length(regexp_replace($"text", "\\s", "")).cast("long")
      val syms = length(regexp_replace($"text", "[A-Za-z0-9\\s]", "")).cast("long")
      val stopHits = size(regexp_extract_all($"text",
        lit("\\b(the|a|of|and|to)\\b"), lit(0))).cast("long")
      t(s, d, "documents").select(
        $"doc_id",
        nWords.as("n_words"),
        nWords.between(50L, 100000L).as("ok_nwords"),
        (nWords * 3 <= wordChars && wordChars <= nWords * 10).as("ok_wordlen"),
        (syms * 10 <= length($"text").cast("long")).as("ok_symbols"),
        (stopHits >= 2).as("ok_stopwords"))
        .withColumn("pass",
          $"ok_nwords" && $"ok_wordlen" && $"ok_symbols" && $"ok_stopwords")
    }, Some("""
      WITH m AS (
        SELECT doc_id,
          len(string_split_regex(trim(text), '\s+')) AS n_words,
          length(regexp_replace(text, '\s', '', 'g')) AS wc,
          length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS syms,
          len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS stop_hits,
          length(text) AS n_chars
        FROM documents)
      SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        n_words BETWEEN 50 AND 100000 AS ok_nwords,
        (n_words * 3 <= wc AND wc <= n_words * 10) AS ok_wordlen,
        syms * 10 <= n_chars AS ok_symbols,
        stop_hits >= 2 AS ok_stopwords,
        (n_words BETWEEN 50 AND 100000) AND
          (n_words * 3 <= wc AND wc <= n_words * 10) AND
          (syms * 10 <= n_chars) AND (stop_hits >= 2) AS pass
      FROM m""")),

    // markup stripping — the raw-web cleaning step before any text
    // analysis: drop tags, collapse the whitespace they leave, count
    // what was removed. The corpus has no natural markup, so tags are
    // planted on doc_id % 4 == 1 (q55/q70/q77 precedent); clean text
    // rides the gate as an md5 so full content is compared without
    // hauling it. Row-local regexp chain, zero shuffles.
    Q("q98_strip_markup", (s, d) => {
      import s.implicits._
      val raw = when($"doc_id" % 4 === 1,
        concat(lit("<div class=\"post\"><p>"), $"text",
          lit("</p><a href=\"http://x\">read more</a></div>")))
        .otherwise($"text")
      t(s, d, "documents")
        .select($"doc_id", raw.as("raw"))
        .select($"doc_id",
          size(regexp_extract_all($"raw", lit("<[^>]+>"), lit(0)))
            .cast("long").as("n_tags"),
          md5(trim(regexp_replace(
            regexp_replace($"raw", "<[^>]+>", " "), "\\s+", " ")))
            .as("clean_fp"))
    }, Some("""
      WITH raw AS (
        SELECT doc_id,
          CASE WHEN doc_id % 4 = 1
            THEN '<div class="post"><p>' || text ||
                 '</p><a href="http://x">read more</a></div>'
            ELSE text END AS raw
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(raw, '<[^>]+>')) AS BIGINT) AS n_tags,
        md5(trim(regexp_replace(regexp_replace(raw, '<[^>]+>', ' ', 'g'),
                                '\s+', ' ', 'g'))) AS clean_fp
      FROM raw""")),

    // fixed-budget document chunking (the pretraining/RAG splitter):
    // re-segment every document into 64-token chunks, reassembling each
    // chunk's text in token order. Round-16: chunk assembly is
    // ROW-LOCAL (chunk k = slice(toks, k*64+1, 64)) — the old
    // token-explode + (doc, chunk) re-agg shuffled every token
    // occurrence just to glue adjacent tokens back together; the
    // per-row transform emits the same (doc, chunk_id, n, text) rows
    // with ZERO exchanges, and long-doc skew is moot (no wide agg at
    // all).
    Q("q65_chunk", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", TextOps.tokens($"text").as("__toks"))
        .select($"doc_id", posexplode(TextOps.chunks($"__toks", 64, 64)(ck =>
          struct(size(ck).as("n"), array_join(ck, " ").as("ct"))))
          .as(Seq("k", "c")))
        .select($"doc_id", $"k".cast("long").as("chunk_id"),
          $"c.n".cast("long").as("n_tokens"), $"c.ct".as("chunk_text"))
    }, Some("""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                 FROM documents),
      t AS (SELECT doc_id,
              unnest(toks) AS tok,
              generate_subscripts(toks, 1) - 1 AS pos
            FROM d)
      SELECT doc_id, CAST(pos // 64 AS BIGINT) AS chunk_id,
        CAST(count(*) AS BIGINT) AS n_tokens,
        string_agg(tok, ' ' ORDER BY pos) AS chunk_text
      FROM t GROUP BY doc_id, pos // 64""")),

    // TF-IDF keyword extraction: the per-document topical signal a
    // curation/index pipeline logs (top-5 highest tf·idf terms per doc).
    // idf is floor-quantized to integer nano-nats ONCE per distinct
    // token (the q73 engine-exactness scheme) so the score tf·nidf is
    // pure integer arithmetic after the single quantization; total order
    // by (score desc, tok asc). Scale: the df model joins
    // vocabulary-keyed (never broadcast — vocabulary grows with the
    // corpus), the doc count is a single-row broadcast, and the per-doc
    // top-5 window is swapped to TopKPerKeyExec by WindowTopKRule — one
    // shuffle on doc_id with a bounded 5-row buffer per key, no per-doc
    // sort materialization.
    Q("q108_tfidf_keywords", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val tf = docs
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      val nRow = docs.agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"doc_id").orderBy($"score_n".desc, $"tok".asc)
      tf.join(df, "tok").join(broadcast(nRow))
        .withColumn("score_n",
          $"tf" * floor(log($"n".cast("double") / $"df") * 1000000000d)
            .cast("long"))
        .withColumn("kw_rank", row_number().over(w))
        .filter($"kw_rank" <= 5)
        .select($"doc_id", $"tok", $"tf".cast("long").as("tf"), $"score_n",
          $"kw_rank".cast("long").as("kw_rank"))
    }, Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
                   FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
      df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.tok, tf.tf,
          tf.tf * CAST(floor(ln(n.n * 1.0 / df.df) * 1000000000) AS BIGINT)
            AS score_n
        FROM tf JOIN df USING (tok) CROSS JOIN n)
      SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, score_n,
        CAST(kw_rank AS BIGINT) AS kw_rank FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score_n DESC, tok ASC) AS kw_rank
        FROM scored)
      WHERE kw_rank <= 5""")),

    // BM25 top-k retrieval (Lucene k1=1.2 / b=0.75 variant): the lexical
    // retrieval primitive behind RAG indexing and dedup-by-retrieval —
    // each seed doc (doc_id < 3) is a query; score every doc containing
    // at least one query term and keep the top-10 per query. Engine
    // exactness: idf is floor-quantized to integer nano-nats ONCE per
    // distinct token (q73/q108 scheme), each per-term score is
    // floor-quantized BEFORE the per-doc sum so the aggregate is pure
    // integer addition (order-independent across engines/partitionings);
    // the inner double expression tree is written identically on both
    // sides, so IEEE evaluation matches bit-for-bit. Scale: query terms
    // broadcast (bounded by query length x #queries, corpus-invariant);
    // df/idf joins vocabulary-keyed, dl doc-keyed (both grow with the
    // corpus — never broadcast); corpus stats are a 1-row broadcast; the
    // per-query top-10 is two-stage (64-bucket prefilter then a final
    // window over <= 640 survivors per query), so a hot query matching
    // the whole corpus never serializes into one task.
    Q("q112_bm25_retrieval", (s, d) => {
      import s.implicits._
      val tf = t(s, d, "documents")
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"),
        (sum($"dl") * lit(1.0) / count(lit(1))).as("avgdl"))
      val idf = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
        .join(broadcast(stats))
        .select($"tok",
          floor(log(lit(1) + ($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
            * 1000000000d).cast("long").as("idf_n"))
      val qt = tf.filter($"doc_id" < 3)
        .select($"doc_id".as("q_id"), $"tok").distinct()
      val scored = tf.join(broadcast(qt), "tok")
        .join(idf, "tok").join(dl, "doc_id").join(broadcast(stats))
        .withColumn("term_n",
          floor($"idf_n" * (($"tf" * lit(2.2))
            / ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * ($"dl" / $"avgdl")))))
            .cast("long"))
        .groupBy($"q_id", $"doc_id").agg(sum($"term_n").as("bm25_n"))
      val ord = Seq($"bm25_n".desc, $"doc_id".asc)
      val wB = Window.partitionBy($"q_id", pmod(hash($"doc_id"), lit(64)))
        .orderBy(ord: _*)
      val wG = Window.partitionBy($"q_id").orderBy(ord: _*)
      scored
        .withColumn("brk", row_number().over(wB)).filter($"brk" <= 10)
        .withColumn("rk", row_number().over(wG)).filter($"rk" <= 10)
        .select($"q_id", $"doc_id", $"bm25_n", $"rk".cast("long").as("rk"))
    }, Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
                   FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      stats AS (SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM dl),
      idf AS (SELECT tok,
                CAST(floor(ln(1 + (n - df + 0.5) / (df + 0.5)) * 1000000000)
                     AS BIGINT) AS idf_n
              FROM (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
              CROSS JOIN stats),
      qt AS (SELECT DISTINCT doc_id AS q_id, tok FROM tf WHERE doc_id < 3),
      sc AS (SELECT qt.q_id, tf.doc_id,
               CAST(sum(CAST(floor(idf.idf_n * ((tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / stats.avgdl)))))
                 AS BIGINT)) AS BIGINT) AS bm25_n
             FROM qt
             JOIN tf ON tf.tok = qt.tok
             JOIN idf ON idf.tok = tf.tok
             JOIN dl ON dl.doc_id = tf.doc_id
             CROSS JOIN stats
             GROUP BY 1, 2)
      SELECT q_id, doc_id, bm25_n, CAST(rk AS BIGINT) AS rk FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY bm25_n DESC, doc_id ASC) AS rk
        FROM sc)
      WHERE rk <= 10""")),

    // BPE merge-candidate statistics: the first step of tokenizer
    // training — adjacent character-pair frequencies across the corpus,
    // top-20 by count. The 100 TB move is computing pairs over the
    // VOCABULARY, not the token stream: token counts collapse the
    // corpus to one row per distinct token first (map-side-combined
    // agg), then each vocab entry explodes into its len-1 pairs
    // weighted by the token's corpus frequency — pair extraction cost
    // grows with vocabulary size, not corpus size. Counts are integer
    // sums (order-independent); top-20 is the bucketed-prefilter rank
    // (WindowTopKRule lowers both rank windows to TopKPerKeyExec, and
    // the final one sees <= 20 x 64 survivors).
    Q("q113_bpe_pair_stats", (s, d) => {
      import s.implicits._
      val tc = t(s, d, "documents")
        .select(explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("c"))
      val pairs = tc.filter(length($"tok") >= 2)
        .select($"tok", $"c",
          explode(sequence(lit(1), length($"tok") - 1)).as("i"))
        .select(expr("substring(tok, i, 2)").as("pair"), $"c")
        .groupBy($"pair").agg(sum($"c").cast("long").as("cnt"))
      val ord = Seq($"cnt".desc, $"pair".asc)
      val wB = Window.partitionBy(pmod(hash($"pair"), lit(64))).orderBy(ord: _*)
      val wG = Window.orderBy(ord: _*)
      pairs
        .withColumn("brk", row_number().over(wB)).filter($"brk" <= 20)
        .withColumn("rk", row_number().over(wG)).filter($"rk" <= 20)
        .select($"pair", $"cnt", $"rk".cast("long").as("rk"))
    }, Some("""
      WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
                   FROM documents),
      tc AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
      ex AS (SELECT tok, c, unnest(generate_series(1, len(tok) - 1)) AS i
             FROM tc WHERE len(tok) >= 2),
      p AS (SELECT substring(tok, i, 2) AS pair, CAST(sum(c) AS BIGINT) AS cnt
            FROM ex GROUP BY 1)
      SELECT pair, cnt, CAST(rk AS BIGINT) AS rk FROM (
        SELECT *, row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rk FROM p)
      WHERE rk <= 20""")),

    // hourly event-rate anomaly detection: flag hours whose count is
    // more than 3 sigma from the trailing-24h mean per event type — the
    // ingest-observability alarm a crawl/telemetry pipeline runs. The
    // 3-sigma gate is EXACT integer arithmetic: (x-mu)^2 > 9*sigma^2
    // multiplied through by n^2 becomes (n*x - s1)^2 > 9*(n*s2 - s1^2)
    // over windowed integer sums — no float mean/stddev, no rounding,
    // engine-identical. Scale: the hourly pre-agg collapses the event
    // stream to (types x hours) rows first (map-side combine); the
    // window frame is a bounded 24 rows, partitioned by event type, and
    // a type's series length grows with retention time (~9k rows/year),
    // not with event volume — never a corpus-sized sort.
    Q("q119_rate_anomaly", (s, d) => {
      import s.implicits._
      val hourly = t(s, d, "events")
        .select($"event_type", date_trunc("hour", $"ts").as("h"))
        .groupBy($"event_type", $"h").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy($"event_type").orderBy($"h")
        .rowsBetween(-24, -1)
      hourly
        .withColumn("n_prev", count($"cnt").over(w))
        .withColumn("s1", sum($"cnt").over(w))
        .withColumn("s2", sum($"cnt" * $"cnt").over(w))
        .filter($"n_prev" >= 12)
        .select($"event_type",
          date_format($"h", "yyyy-MM-dd HH:00:00").as("hour"),
          $"cnt".cast("long").as("cnt"),
          $"n_prev".cast("long").as("n_prev"),
          (($"n_prev" * $"cnt" - $"s1") * ($"n_prev" * $"cnt" - $"s1") >
            lit(9) * ($"n_prev" * $"s2" - $"s1" * $"s1")).as("is_anomaly"))
    }, Some("""
      WITH hc AS (
        SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt
        FROM events GROUP BY 1, 2),
      w AS (
        SELECT event_type, h, cnt,
          count(cnt) OVER win AS n_prev,
          sum(cnt) OVER win AS s1,
          sum(cnt * cnt) OVER win AS s2
        FROM hc
        WINDOW win AS (PARTITION BY event_type ORDER BY h
                       ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      SELECT event_type, strftime(h, '%Y-%m-%d %H:00:00') AS hour,
        CAST(cnt AS BIGINT) AS cnt, CAST(n_prev AS BIGINT) AS n_prev,
        (n_prev * cnt - s1) * (n_prev * cnt - s1) > 9 * (n_prev * s2 - s1 * s1)
          AS is_anomaly
      FROM w WHERE n_prev >= 12""")),

    // PMI collocation mining (phrase discovery): top-20 adjacent token
    // pairs by pointwise mutual information with a minimum-count gate —
    // the phrase-vocabulary step of tokenizer/corpus analysis.
    // Exactness: the PMI ratio is evaluated as ONE double expression
    // with every count explicitly cast to double BEFORE any multiply
    // (so nothing overflows at corpus scale and both engines evaluate
    // the identical IEEE tree), then floor-quantized ONCE to integer
    // nano-nats; ordering ties break on the bigram string. Scale:
    // bigram/unigram counts are map-side-combined aggs; the
    // unigram-count joins are vocabulary-keyed (never broadcast); the
    // grand total is a 1-row broadcast; top-20 via the 64-bucket
    // prefilter + bounded final (both lower to TopKPerKeyExec).
    Q("q121_collocations", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val bg = TextOps.shingleRows(docs, "doc_id", "text", n = 2)
        .groupBy($"shingle".as("bigram")).agg(count(lit(1)).as("cab"))
      val uni = docs
        .select(explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("c"))
      val nn = bg.agg(sum($"cab").as("nb"))
      val scored = bg
        .filter($"cab" >= 5)
        .withColumn("a", split($"bigram", " ").getItem(0))
        .withColumn("b", split($"bigram", " ").getItem(1))
        .join(uni.select($"tok".as("a"), $"c".as("ca")), "a")
        .join(uni.select($"tok".as("b"), $"c".as("cb")), "b")
        .join(broadcast(nn))
        .withColumn("pmi_nano",
          floor(log(($"cab".cast("double") * $"nb".cast("double"))
            / ($"ca".cast("double") * $"cb".cast("double"))) * 1000000000d)
            .cast("long"))
      val ord = Seq($"pmi_nano".desc, $"bigram".asc)
      val wB = Window.partitionBy(pmod(hash($"bigram"), lit(64))).orderBy(ord: _*)
      val wG = Window.orderBy(ord: _*)
      scored
        .withColumn("brk", row_number().over(wB)).filter($"brk" <= 20)
        .withColumn("rk", row_number().over(wG)).filter($"rk" <= 20)
        .select($"bigram", $"cab".cast("long").as("cab"), $"pmi_nano",
          $"rk".cast("long").as("rk"))
    }, Some("""
      WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                  FROM documents),
      bg AS (SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
                      i -> toks[i] || ' ' || toks[i+1])) AS bigram
             FROM tk),
      bc AS (SELECT bigram, count(*) AS cab FROM bg GROUP BY 1),
      uni AS (SELECT unnest(toks) AS tok FROM tk),
      uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
      nb AS (SELECT sum(cab) AS nb FROM bc),
      sc AS (
        SELECT bc.bigram, bc.cab,
          CAST(floor(ln((CAST(bc.cab AS DOUBLE) * CAST(nb.nb AS DOUBLE))
                 / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)))
               * 1000000000) AS BIGINT) AS pmi_nano
        FROM bc
        JOIN uc ca ON ca.tok = string_split(bc.bigram, ' ')[1]
        JOIN uc cb ON cb.tok = string_split(bc.bigram, ' ')[2]
        CROSS JOIN nb
        WHERE bc.cab >= 5)
      SELECT bigram, CAST(cab AS BIGINT) AS cab, pmi_nano,
        CAST(rk AS BIGINT) AS rk FROM (
        SELECT *, row_number() OVER (ORDER BY pmi_nano DESC, bigram ASC) AS rk
        FROM sc)
      WHERE rk <= 20""")),

    // Anchor-text aggregation per authority host (the link-graph ⋈ text
    // operator behind web-corpus retrieval: what do OTHER pages call
    // this host?): every link edge carries the linking doc's 3-token
    // lead as its anchor text; per target host, the top-5 anchor terms
    // by count. Scale shape: anchors are row-local slices (no joins to
    // build them); one (host, term) map-side-combined agg; the top-5 is
    // the q79 two-stage shape — a (host, hash-bucket)-partitioned
    // prefilter keeps <= 5 rows per bucket, then the per-host final
    // window sees <= 320 survivors per host regardless of vocabulary
    // size, so a hot host never serializes its whole term set.
    Q("q171_anchor_terms", (s, d) => {
      import s.implicits._
      val counts = t(s, d, "documents")
        .select((($"doc_id" * 7 + 3) % 32).as("host"),
          explode(slice(TextOps.tokens($"text"), 1, 3)).as("term"))
        .groupBy($"host", $"term").agg(count(lit(1)).as("cnt"))
      val wB = Window.partitionBy($"host", pmod(hash($"term"), lit(64)))
        .orderBy($"cnt".desc, $"term".asc)
      val wH = Window.partitionBy($"host").orderBy($"cnt".desc, $"term".asc)
      counts
        .withColumn("__brk", row_number().over(wB)).filter($"__brk" <= 5)
        .withColumn("rk", row_number().over(wH)).filter($"rk" <= 5)
        .select($"host", $"term", $"cnt", $"rk".cast("long").as("rk"))
    }, Some("""
      WITH an AS (
        SELECT (doc_id * 7 + 3) % 32 AS host,
          unnest(string_split_regex(trim(text), '\s+')[1:3]) AS term
        FROM documents),
      c AS (SELECT host, term, CAST(count(*) AS BIGINT) AS cnt
            FROM an GROUP BY 1, 2)
      SELECT host, term, cnt, CAST(rk AS BIGINT) AS rk FROM (
        SELECT *, row_number() OVER (PARTITION BY host
          ORDER BY cnt DESC, term ASC) AS rk
        FROM c)
      WHERE rk <= 5""")),

    // Windowed skip-gram PPMI (q121's embedding-training sibling:
    // word2vec-style co-occurrence statistics): unordered token pairs
    // within distance <= 2, marginals over the pair distribution, and
    // each word's top-3 contexts by positive PMI. Pairs are built
    // ROW-LOCALLY from the token array (zip_with against its own
    // k-shift — no positional self-join, fan-out exactly 2 rows per
    // token). Engine exactness: every count is cast to double BEFORE
    // any multiply (no int64 overflow at corpus scale; both engines
    // evaluate the identical IEEE tree), floor-quantized ONCE to
    // integer nano-nats, clamped at 0 AFTER the floor. Scale: pair and
    // marginal aggs are map-side-combined and vocabulary-keyed (never
    // broadcast); only the 1-row pair total broadcasts; the per-word
    // top-3 window is word-partitioned.
    Q("q172_skipgram_ppmi", (s, d) => {
      import s.implicits._
      val toksDf = t(s, d, "documents")
        .select($"doc_id", TextOps.tokens($"text").as("ts"))
      def shifted(k: Int) = toksDf.select(expr(
        s"""explode(zip_with(
              slice(ts, 1, greatest(size(ts) - $k, 0)),
              slice(ts, ${k + 1}, greatest(size(ts) - $k, 0)),
              (a, b) -> named_struct('u', a, 'v', b))) AS p"""))
        .select($"p.u".as("u"), $"p.v".as("v"))
      val pairs = shifted(1).unionAll(shifted(2))
        .filter($"u" =!= $"v")
        .select(least($"u", $"v").as("x"), greatest($"u", $"v").as("y"))
      // pcAll feeds both marginal legs, the total, and the scored join:
      // persist so the pair explosion + agg run once
      val pcAll = pairs.groupBy($"x", $"y").agg(count(lit(1)).as("n"))
        .persist()
      val marg = pcAll.select($"x".as("t"), $"n")
        .unionAll(pcAll.select($"y".as("t"), $"n"))
        .groupBy($"t").agg(sum($"n").as("m"))
      val tot = pcAll.agg(sum($"n").as("tt"))
      val wX = Window.partitionBy($"x").orderBy($"ppmi_nano".desc, $"y".asc)
      pcAll.filter($"n" >= 3)
        .join(marg.select($"t".as("x"), $"m".as("mx")), "x")
        .join(marg.select($"t".as("y"), $"m".as("my")), "y")
        .join(broadcast(tot))
        .withColumn("ppmi_nano", greatest(
          floor(log(($"n".cast("double") * $"tt".cast("double")) /
            ($"mx".cast("double") * $"my".cast("double")))
            * 1000000000d).cast("long"), lit(0L)))
        .withColumn("rk", row_number().over(wX)).filter($"rk" <= 3)
        .select($"x".as("w"), $"y".as("c"), $"n", $"ppmi_nano",
          $"rk".cast("long").as("rk"))
    }, Some("""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
                 FROM documents),
      tok AS (SELECT doc_id, unnest(ts) AS tk,
                generate_subscripts(ts, 1) AS pos FROM d),
      pr AS (SELECT least(a.tk, b.tk) AS x, greatest(a.tk, b.tk) AS y
             FROM tok a JOIN tok b ON a.doc_id = b.doc_id
               AND b.pos > a.pos AND b.pos <= a.pos + 2
             WHERE a.tk <> b.tk),
      pc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM pr GROUP BY 1, 2),
      marg AS (SELECT t, CAST(sum(n) AS BIGINT) AS m FROM (
                 SELECT x AS t, n FROM pc UNION ALL SELECT y, n FROM pc)
               GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM pc),
      sc AS (SELECT pc.x, pc.y, pc.n,
               greatest(CAST(floor(ln((CAST(pc.n AS DOUBLE) * CAST(tot.tt AS DOUBLE))
                 / (CAST(mx.m AS DOUBLE) * CAST(my.m AS DOUBLE)))
                 * 1000000000) AS BIGINT), 0) AS ppmi_nano
             FROM pc JOIN marg mx ON mx.t = pc.x
                     JOIN marg my ON my.t = pc.y
                     CROSS JOIN tot
             WHERE pc.n >= 3)
      SELECT x AS w, y AS c, n, ppmi_nano, CAST(rk AS BIGINT) AS rk FROM (
        SELECT *, row_number() OVER (PARTITION BY x
          ORDER BY ppmi_nano DESC, y ASC) AS rk
        FROM sc)
      WHERE rk <= 3""")),

    // Inverted-index compression estimator (the index-sizing number
    // priced before building retrieval over the corpus): per df band
    // (log2 of document frequency), the Elias-gamma bit cost of
    // delta-gap-encoded posting lists vs raw 64-bit ids. Dense terms
    // compress hardest (small gaps) — the band report says how much of
    // the index budget each frequency tier costs. Exactness: gamma
    // bits = 2*bitlen(gap) - 1 with bitlen = length(bin(gap)) — a
    // STRING-length integer identical in both engines (no float log2);
    // first posting's gap is doc_id + 1 (ids start at 0). Scale shape:
    // distinct postings is one map-side-combined agg; the gap lag is a
    // term-partitioned window (posting-list bounded — the per-user
    // history argument); df joins back vocabulary-keyed (corpus-
    // growing, never broadcast); the band rollup is <= 64 rows.
    Q("q206_index_compression", (s, d) => {
      import s.implicits._
      // row-local distinct (round-15 opt): doc id is in the dedup key
      val post = t(s, d, "documents")
        .select($"doc_id",
          explode(array_distinct(TextOps.tokens($"text"))).as("tok"))
      val df = post.groupBy($"tok").agg(count(lit(1)).as("df"))
      val wP = Window.partitionBy($"tok").orderBy($"doc_id".asc)
      post
        .withColumn("gap",
          $"doc_id" - coalesce(lag($"doc_id", 1).over(wP), lit(-1L)))
        .join(df, "tok")
        .select(length(expr("bin(df)")).cast("long").as("band"),
          (lit(2) * length(expr("bin(gap)")).cast("long") - 1)
            .as("gbits"))
        .groupBy($"band")
        .agg(count(lit(1)).as("n_postings"), sum($"gbits").as("gamma_bits"),
          (count(lit(1)) * 64).as("raw_bits"))
        .select($"band", $"n_postings", $"gamma_bits", $"raw_bits",
          expr("(gamma_bits * 1000000) div raw_bits").as("ratio_ppm"))
    }, Some("""
      WITH post AS (
        SELECT DISTINCT doc_id,
          unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents),
      df AS (SELECT tok, count(*) AS df FROM post GROUP BY 1),
      g AS (
        SELECT post.tok,
          post.doc_id - coalesce(lag(post.doc_id, 1) OVER (
            PARTITION BY post.tok ORDER BY post.doc_id ASC), -1) AS gap,
          df.df
        FROM post JOIN df USING (tok)),
      b AS (
        SELECT CAST(length(bin(df)) AS BIGINT) AS band,
          2 * CAST(length(bin(gap)) AS BIGINT) - 1 AS gbits
        FROM g)
      SELECT band, CAST(count(*) AS BIGINT) AS n_postings,
        CAST(sum(gbits) AS BIGINT) AS gamma_bits,
        CAST(count(*) * 64 AS BIGINT) AS raw_bits,
        CAST((sum(gbits) * 1000000) // (count(*) * 64) AS BIGINT)
          AS ratio_ppm
      FROM b GROUP BY 1""")),

    // Per-source unigram KL divergence vs the corpus LM (the
    // distribution-level drift monitor q143's token-count KS can't
    // give — it sees WHICH sources use a different vocabulary, not
    // just different lengths). KL_s = sum_t p_s(t) ln(p_s(t)/p_c(t))
    // in integer milli-nats: each term's log-ratio is
    // ln((f_st * T) / (Ts * f_t)) on integer-fed doubles (identical
    // IEEE tree) floor-quantized to milli, weighted by f_st with
    // integer division (Spark `div` and DuckDB `//` both truncate
    // toward zero, so negative terms — where the source under-uses a
    // token — divide identically). Milli (not nano) keeps f_st * term under
    // int64 to ~4e14 occurrences/term/source. Scale shape: one
    // (source, tok) agg + one corpus tok agg, joined
    // VOCABULARY-keyed (both corpus-growing, never broadcast);
    // per-source totals registry-sized; the corpus total is the 1-row
    // broadcast; rollup registry-sized.
    Q("q207_source_kl", (s, d) => {
      import s.implicits._
      val st = t(s, d, "documents")
        .select($"source", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("fst"))
      val ts = st.groupBy($"source").agg(sum($"fst").as("ts"))
      val ct = st.groupBy($"tok").agg(sum($"fst").as("ft"))
      val tot = ct.agg(sum($"ft").as("tt"))
      st.join(ct, "tok").join(ts, "source").crossJoin(broadcast(tot))
        .withColumn("term_m",
          expr("""cast(floor(ln((cast(fst as double) * cast(tt as double))
            / (cast(ts as double) * cast(ft as double))) * 1000)
            as long)"""))
        .withColumn("contrib", expr("(fst * term_m) div ts"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_terms"), max($"ts").as("n_tokens"),
          sum($"contrib").as("kl_milli"))
    }, Some("""
      WITH st AS (
        SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents),
      f AS (SELECT source, tok, count(*) AS fst FROM st GROUP BY 1, 2),
      ts AS (SELECT source, sum(fst) AS ts FROM f GROUP BY 1),
      ct AS (SELECT tok, sum(fst) AS ft FROM f GROUP BY 1),
      tt AS (SELECT sum(ft) AS tt FROM ct),
      terms AS (
        SELECT f.source, f.fst, ts.ts,
          CAST(floor(ln((CAST(f.fst AS DOUBLE) * CAST(tt.tt AS DOUBLE))
            / (CAST(ts.ts AS DOUBLE) * CAST(ct.ft AS DOUBLE))) * 1000)
            AS BIGINT) AS term_m
        FROM f JOIN ct USING (tok) JOIN ts USING (source) CROSS JOIN tt)
      SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
        CAST(max(ts) AS BIGINT) AS n_tokens,
        CAST(sum((fst * term_m) // ts) AS BIGINT) AS kl_milli
      FROM terms GROUP BY 1""")),

    // Retrieval quality eval (nDCG@10 + precision@10 over the q112
    // BM25 ranker): the eval-harness number a retrieval stack reports
    // before its index ships. Relevance is a deterministic label the
    // oracle can replay — 2 if the hit shares the query doc's source
    // (strong: same site), 1 if it shares the lang (weak: lexical
    // retrieval should at least stay in-language), 0 otherwise; the
    // query doc itself is excluded (it would trivially rank first). nDCG uses the LOCAL
    // ideal (top-10 relevances re-sorted descending) so it is
    // well-defined from the retrieved list alone; the 10 log2
    // discounts are precomputed integer-micro literals interpolated
    // into BOTH engines, so no runtime log2 rounding can diverge.
    // Scale shape: q112's vocabulary-keyed joins + bucketed-prefilter
    // top-k; the eval adds two doc-keyed metadata joins and windows
    // over <= 10 rows per query — nothing corpus-global.
    Q("q223_ndcg_eval", (s, d) => {
      import s.implicits._
      val discs = TextQueries.ndcgDiscMicro
      val docs = t(s, d, "documents")
      val tf = docs
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"),
        (sum($"dl") * lit(1.0) / count(lit(1))).as("avgdl"))
      val idf = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
        .join(broadcast(stats))
        .select($"tok",
          floor(log(lit(1) + ($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
            * 1000000000d).cast("long").as("idf_n"))
      val qt = tf.filter($"doc_id" < 3)
        .select($"doc_id".as("q_id"), $"tok").distinct()
      val scored = tf.join(broadcast(qt), "tok")
        .filter($"doc_id" =!= $"q_id")
        .join(idf, "tok").join(dl, "doc_id").join(broadcast(stats))
        .withColumn("term_n",
          floor($"idf_n" * (($"tf" * lit(2.2))
            / ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * ($"dl" / $"avgdl")))))
            .cast("long"))
        .groupBy($"q_id", $"doc_id").agg(sum($"term_n").as("bm25_n"))
      val ord = Seq($"bm25_n".desc, $"doc_id".asc)
      val wB = Window.partitionBy($"q_id", pmod(hash($"doc_id"), lit(64)))
        .orderBy(ord: _*)
      val wG = Window.partitionBy($"q_id").orderBy(ord: _*)
      val topk = scored
        .withColumn("brk", row_number().over(wB)).filter($"brk" <= 10)
        .withColumn("rk", row_number().over(wG)).filter($"rk" <= 10)
        .select($"q_id", $"doc_id", $"rk")
      val qm = docs.select($"doc_id".as("q_id"), $"source".as("qs"),
        $"lang".as("qlg"))
      val dm = docs.select($"doc_id", $"source".as("ds"), $"lang".as("dlg"))
      val wI = Window.partitionBy($"q_id").orderBy($"rel".desc, $"rk".asc)
      topk.join(qm, "q_id").join(dm, "doc_id")
        .select($"q_id", $"rk",
          when($"qs" === $"ds", 2L)
            .when($"qlg" === $"dlg", 1L).otherwise(0L).as("rel"))
        .withColumn("irk", row_number().over(wI))
        .groupBy($"q_id")
        .agg(count(lit(1)).as("n_ret"),
          sum(when($"rel" > 0, 1L).otherwise(0L)).as("n_rel"),
          sum($"rel" * element_at(typedLit(discs), $"rk".cast("int")))
            .as("dcg_micro"),
          sum($"rel" * element_at(typedLit(discs), $"irk")).as("idcg_micro"))
        .select($"q_id", $"n_ret", $"n_rel", $"dcg_micro",
          expr("""CASE WHEN idcg_micro = 0 THEN CAST(1000000 AS BIGINT)
            ELSE (dcg_micro * 1000000) div idcg_micro END""").as("ndcg_ppm"),
          expr("(n_rel * 1000000) div 10").as("prec_ppm"))
    }, Some {
      val dl = TextQueries.ndcgDiscMicro.mkString("[", ", ", "]")
      s"""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
                   FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      stats AS (SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM dl),
      idf AS (SELECT tok,
                CAST(floor(ln(1 + (n - df + 0.5) / (df + 0.5)) * 1000000000)
                     AS BIGINT) AS idf_n
              FROM (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
              CROSS JOIN stats),
      qt AS (SELECT DISTINCT doc_id AS q_id, tok FROM tf WHERE doc_id < 3),
      sc AS (SELECT qt.q_id, tf.doc_id,
               CAST(sum(CAST(floor(idf.idf_n * ((tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / stats.avgdl)))))
                 AS BIGINT)) AS BIGINT) AS bm25_n
             FROM qt
             JOIN tf ON tf.tok = qt.tok AND tf.doc_id != qt.q_id
             JOIN idf ON idf.tok = tf.tok
             JOIN dl ON dl.doc_id = tf.doc_id
             CROSS JOIN stats
             GROUP BY 1, 2),
      topk AS (SELECT q_id, doc_id, rk FROM (
                 SELECT *, row_number() OVER (PARTITION BY q_id
                   ORDER BY bm25_n DESC, doc_id ASC) AS rk
                 FROM sc)
               WHERE rk <= 10),
      r AS (SELECT t.q_id, t.rk,
              CASE WHEN dq.source = dd.source THEN 2
                   WHEN dq.lang = dd.lang THEN 1 ELSE 0 END AS rel
            FROM topk t
            JOIN documents dq ON dq.doc_id = t.q_id
            JOIN documents dd ON dd.doc_id = t.doc_id),
      i AS (SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY rel DESC, rk ASC) AS irk FROM r),
      g AS (SELECT q_id, count(*) AS n_ret,
              sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_rel,
              sum(rel * ($dl)[rk]) AS dcg_micro,
              sum(rel * ($dl)[irk]) AS idcg_micro
            FROM i GROUP BY 1)
      SELECT q_id, CAST(n_ret AS BIGINT) AS n_ret,
        CAST(n_rel AS BIGINT) AS n_rel,
        CAST(dcg_micro AS BIGINT) AS dcg_micro,
        CAST(CASE WHEN idcg_micro = 0 THEN 1000000
          ELSE (dcg_micro * 1000000) // idcg_micro END AS BIGINT)
          AS ndcg_ppm,
        CAST((n_rel * 1000000) // 10 AS BIGINT) AS prec_ppm
      FROM g"""
    }),

    // Vocabulary coverage curve (the tokenizer-budget readout): what
    // fraction of all token OCCURRENCES do the top-k types cover, for
    // k in {10, 100, 1000}? q133 fits the Zipf decay; this is the
    // operational integral a vocab-size decision reads. Exact top-k
    // mass WITHOUT a corpus-sized ranking sort: group types into
    // DISTINCT-FREQUENCY classes (f, types m, mass f*m), cumulate over
    // the class grid ordered by f desc (value-domain bounded, q110/
    // q181 argument — classes ≤ max frequency, never vocabulary
    // cardinality), and resolve each budget k inside its straddling
    // class: mass(k) = cm - (ct - k)·f (ties broken by taking ANY k
    // of the class's equal-frequency types — mass is tie-invariant,
    // which is why the class grid needs no per-type ordering). Scale
    // shape: one vocabulary-keyed agg, one frequency-class agg, a
    // 3-row literal budget frame inequality-joined to the bounded
    // grid, 1-row totals broadcast.
    Q("q227_vocab_coverage", (s, d) => {
      import s.implicits._
      val tf = t(s, d, "documents")
        .select(explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("f"))
      val classes = tf.groupBy($"f").agg(count(lit(1)).as("m"))
      val wC = Window.orderBy($"f".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = classes
        .withColumn("ct", sum($"m").over(wC))
        .withColumn("cm", sum($"f" * $"m").over(wC))
      val totals = classes.agg(sum($"f" * $"m").as("t_mass"),
        sum($"m").as("v_types"), min($"f").as("f_min"))
      val budgets = s.createDataFrame(
        Seq(10L, 100L, 1000L).map(Tuple1(_))).toDF("k")
      budgets
        .join(cum, cum("ct") - cum("m") < budgets("k") &&
          budgets("k") <= cum("ct"), "left_outer")
        .crossJoin(broadcast(totals))
        .select($"k", least($"k", $"v_types").as("types_used"),
          coalesce($"f", $"f_min").as("cutoff_freq"),
          coalesce($"cm" - ($"ct" - $"k") * $"f", $"t_mass")
            .as("mass_covered"), $"t_mass")
        .select($"k", $"types_used", $"cutoff_freq", $"mass_covered",
          expr("(mass_covered * 1000000) div t_mass").as("coverage_ppm"))
    }, Some("""
      WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+'))
                     AS tok FROM documents),
      tf AS (SELECT tok, count(*) AS f FROM tok GROUP BY 1),
      cls AS (SELECT f, count(*) AS m FROM tf GROUP BY 1),
      cum AS (SELECT f, m,
                sum(m) OVER (ORDER BY f DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
                sum(f * m) OVER (ORDER BY f DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
              FROM cls),
      tot AS (SELECT sum(f * m) AS t_mass, sum(m) AS v_types,
                min(f) AS f_min FROM cls),
      b(k) AS (VALUES (10), (100), (1000))
      SELECT CAST(b.k AS BIGINT) AS k,
        CAST(least(b.k, tot.v_types) AS BIGINT) AS types_used,
        CAST(coalesce(c.f, tot.f_min) AS BIGINT) AS cutoff_freq,
        CAST(coalesce(c.cm - (c.ct - b.k) * c.f, tot.t_mass) AS BIGINT)
          AS mass_covered,
        CAST((coalesce(c.cm - (c.ct - b.k) * c.f, tot.t_mass) * 1000000)
          // tot.t_mass AS BIGINT) AS coverage_ppm
      FROM b LEFT JOIN cum c ON c.ct - c.m < b.k AND b.k <= c.ct
      CROSS JOIN tot""")),

    // Hill tail-index estimate over the type-frequency distribution
    // (is the vocabulary genuinely power-law, and how heavy is the
    // tail? q133 fits rank-decay, q227 integrates coverage; the Hill
    // alpha over the top-k order statistics is the standard tail
    // estimator a sampling/smoothing choice depends on):
    // alpha = k / Σ_{top-k} ln(f_i / f_(k)). Exact WITHOUT a
    // vocabulary sort: the q227 distinct-frequency class grid
    // resolves the k-th largest frequency inside its straddling
    // class; classes strictly above contribute m·ln(f/f_cut), the
    // straddling class contributes 0 (ln 1). Per-class terms are
    // floor-quantized to nano BEFORE the integer sum, so the result
    // is order- and engine-independent (the q207 convention); k
    // adapts to min(100, V). Scale shape: vocabulary agg +
    // class-grid agg (value-domain bounded), 1-row cutoff broadcast.
    Q("q236_hill_tail_index", (s, d) => {
      import s.implicits._
      val tf = t(s, d, "documents")
        .select(explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("f"))
      val classes = tf.groupBy($"f").agg(count(lit(1)).as("m"))
      val wC = Window.orderBy($"f".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = classes.withColumn("ct", sum($"m").over(wC))
      val totals = classes.agg(sum($"m").as("v_types"))
        .select(least(lit(100L), $"v_types").as("k"))
      val cut = cum.crossJoin(broadcast(totals))
        .filter($"ct" - $"m" < $"k" && $"k" <= $"ct")
        .select($"f".as("f_cut"), $"k")
      classes.crossJoin(broadcast(cut))
        .filter($"f" > $"f_cut")
        .select($"k", $"f_cut",
          ($"m" * expr("""cast(floor(1000000000 *
            ln(cast(f as double) / cast(f_cut as double))) as long)"""))
            .as("term_nano"))
        .groupBy($"k", $"f_cut")
        .agg(count(lit(1)).as("n_classes_above"),
          sum($"term_nano").as("sum_ln_nano"))
        .select($"k", $"f_cut", $"n_classes_above", $"sum_ln_nano",
          expr("""CASE WHEN sum_ln_nano = 0 THEN CAST(0 AS BIGINT)
            ELSE (k * 1000000000000) div sum_ln_nano END""")
            .as("alpha_milli"))
    }, Some("""
      WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+'))
                     AS tok FROM documents),
      tf AS (SELECT tok, count(*) AS f FROM tok GROUP BY 1),
      cls AS (SELECT f, count(*) AS m FROM tf GROUP BY 1),
      cum AS (SELECT f, m,
                sum(m) OVER (ORDER BY f DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct
              FROM cls),
      tot AS (SELECT least(100, sum(m)) AS k FROM cls),
      cut AS (SELECT cum.f AS f_cut, tot.k FROM cum CROSS JOIN tot
              WHERE cum.ct - cum.m < tot.k AND tot.k <= cum.ct),
      terms AS (
        SELECT cut.k, cut.f_cut,
          cls.m * CAST(floor(1000000000 *
            ln(CAST(cls.f AS DOUBLE) / CAST(cut.f_cut AS DOUBLE)))
            AS BIGINT) AS term_nano
        FROM cls CROSS JOIN cut WHERE cls.f > cut.f_cut)
      SELECT CAST(k AS BIGINT) AS k, CAST(f_cut AS BIGINT) AS f_cut,
        CAST(count(*) AS BIGINT) AS n_classes_above,
        CAST(sum(term_nano) AS BIGINT) AS sum_ln_nano,
        CAST(CASE WHEN sum(term_nano) = 0 THEN 0
          ELSE (k * 1000000000000) // sum(term_nano) END AS BIGINT)
          AS alpha_milli
      FROM terms GROUP BY k, f_cut""")),

    // Per-source readability profile (Flesch reading-ease, integer
    // milli form): words, sentences ([.!?]+ runs), and a vowel-group
    // syllable proxy ([aeiouy]+ runs on the lowercased text) feed
    // 206.835 − 1.015·(W/S) − 84.6·(Syl/W) — the classic filter
    // feature a curation pass uses alongside q28's quality score and
    // q78's Gopher rules to catch keyword-stuffed or run-on text.
    // Scale shape: three codegen'd regexp_count calls per row (no
    // explode — the token stream never materializes), then ONE
    // map-side-combined per-source agg. Exactness: ratios are integer
    // div (all operands non-negative except the final difference,
    // where both engines truncate toward zero identically).
    Q("q248_readability", (s, d) => {
      import s.implicits._
      val m = t(s, d, "documents")
        .select($"source",
          greatest(TextOps.tokenCount($"text").cast("long"), lit(1L))
            .as("w"),
          greatest(regexp_count($"text", lit("[.!?]+")).cast("long"),
            lit(1L)).as("sent"),
          regexp_count(lower($"text"), lit("[aeiouy]+")).cast("long")
            .as("syl"))
        .select($"source", (lit(206835L) - expr("(1015000 * w) div (1000 * sent)")
          - expr("(84600 * syl) div w")).as("flesch_milli"))
      m.groupBy($"source").agg(count(lit(1)).as("n_docs"),
        expr("sum(flesch_milli) div count(1)").as("avg_flesch_milli"),
        min($"flesch_milli").as("min_flesch_milli"),
        max($"flesch_milli").as("max_flesch_milli"))
    }, Some("""
      WITH m AS (
        SELECT source,
          greatest(CAST(len(string_split_regex(trim(text), '\s+'))
            AS BIGINT), 1) AS w,
          greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
            AS BIGINT), 1) AS sent,
          CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
            AS BIGINT) AS syl
        FROM documents),
      f AS (
        SELECT source, 206835 - (1015000 * w) // (1000 * sent)
          - (84600 * syl) // w AS flesch_milli
        FROM m)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(flesch_milli) // count(*) AS BIGINT) AS avg_flesch_milli,
        CAST(min(flesch_milli) AS BIGINT) AS min_flesch_milli,
        CAST(max(flesch_milli) AS BIGINT) AS max_flesch_milli
      FROM f GROUP BY 1""")),

    // Per-source Jensen–Shannon divergence vs the corpus token
    // distribution — the SYMMETRIC, BOUNDED (≤ ln 2) companion to
    // q207's KL: KL explodes on tokens the corpus has but the source
    // lacks and is asymmetric by direction, JS is finite and
    // direction-free, so sources are comparable on one scale.
    // Closed-form trick that keeps the plan linear: both KL halves of
    // JS restrict to tokens PRESENT in the source — for a token the
    // source lacks, q/m = 2 exactly, so that tail contributes
    // ln2 · (corpus mass outside the source's vocabulary) in one
    // term; no vocab × sources fan-out is ever built. Scale shape:
    // q207's audited frame (vocabulary-keyed joins, registry-sized
    // totals, 1-row corpus total broadcast). Exactness: per-term
    // floor(ln(·)·1e9) on integer-fed doubles (products ≤ ~1e10 —
    // exactly representable; document the two-pass rescale if token
    // totals pass 2^26 at lake scale), mass-weighted with integer div.
    Q("q251_js_divergence", (s, d) => {
      import s.implicits._
      val ln2nano = 693147180L // floor(ln(2) * 1e9)
      val st = t(s, d, "documents")
        .select($"source", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("fst"))
      val ts = st.groupBy($"source").agg(sum($"fst").as("ts"))
      val ct = st.groupBy($"tok").agg(sum($"fst").as("ft"))
      val tot = ct.agg(sum($"ft").as("tt"))
      st.join(ct, "tok").join(ts, "source").crossJoin(broadcast(tot))
        .withColumn("t1", expr(
          """cast(floor(ln((2.0 * fst * tt) /
            (cast(fst as double) * tt + cast(ft as double) * ts))
            * 1e9) as long)"""))
        .withColumn("t2", expr(
          """cast(floor(ln((2.0 * ft * ts) /
            (cast(fst as double) * tt + cast(ft as double) * ts))
            * 1e9) as long)"""))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_terms"), max($"ts").as("n_tokens"),
          sum(expr("(fst * t1) div ts")).as("kl_pm"),
          sum(expr("(ft * t2) div tt")).as("kl_qm_in"),
          sum($"ft").as("ft_in"))
        .crossJoin(broadcast(tot))
        .select($"source", $"n_terms", $"n_tokens",
          expr(s"(kl_pm + kl_qm_in + ($ln2nano * (tt - ft_in)) div tt) div 2")
            .as("js_nano"))
    }, Some("""
      WITH st AS (
        SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents),
      f AS (SELECT source, tok, count(*) AS fst FROM st GROUP BY 1, 2),
      ts AS (SELECT source, sum(fst) AS ts FROM f GROUP BY 1),
      ct AS (SELECT tok, sum(fst) AS ft FROM f GROUP BY 1),
      tt AS (SELECT sum(ft) AS tt FROM ct),
      terms AS (
        SELECT f.source, f.fst, ts.ts, ct.ft, tt.tt,
          CAST(floor(ln((2.0 * f.fst * tt.tt) /
            (CAST(f.fst AS DOUBLE) * tt.tt + CAST(ct.ft AS DOUBLE) * ts.ts))
            * 1e9) AS BIGINT) AS t1,
          CAST(floor(ln((2.0 * ct.ft * ts.ts) /
            (CAST(f.fst AS DOUBLE) * tt.tt + CAST(ct.ft AS DOUBLE) * ts.ts))
            * 1e9) AS BIGINT) AS t2
        FROM f JOIN ct USING (tok) JOIN ts USING (source) CROSS JOIN tt),
      g AS (
        SELECT source, count(*) AS n_terms, max(ts) AS n_tokens,
          sum((fst * t1) // ts) AS kl_pm,
          sum((ft * t2) // tt) AS kl_qm_in,
          sum(ft) AS ft_in, max(tt) AS tt
        FROM terms GROUP BY 1)
      SELECT source, CAST(n_terms AS BIGINT) AS n_terms,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST((kl_pm + kl_qm_in + (693147180 * (tt - ft_in)) // tt) // 2
          AS BIGINT) AS js_nano
      FROM g""")),

    // Language-ID confusion matrix (declared `lang` label vs q29's
    // dictionary classifier): the standard eval artifact for ANY
    // classifier in the pipeline — per (declared, predicted) cell
    // count and row share, so precision/recall/most-confused-pair
    // read straight off the result; a corpus whose zh rows
    // systematically classify as en is mislabeled or mis-extracted
    // upstream (q29 emits predictions, this grades them). Scale
    // shape: the classifier is q29's row-local codegen'd CASE chain
    // (no UDF), then ONE map-side-combined (lang, pred) agg and a
    // registry² matrix (≤ |langs|² rows at any corpus size); row
    // totals ride a window on that matrix. Exactness: ppm integer
    // div on counts.
    Q("q262_lang_confusion", (s, d) => {
      import s.implicits._
      val m = t(s, d, "documents")
        .select($"lang", TextOps.langId($"text", dicts).as("pred"))
        .groupBy($"lang", $"pred").agg(count(lit(1)).as("n"))
      val wL = Window.partitionBy($"lang")
      m.withColumn("tot", sum($"n").over(wL))
        .select($"lang", $"pred", $"n",
          expr("(n * 1000000) div tot").as("row_share_ppm"),
          when($"lang" === $"pred", $"n").otherwise(0L).as("n_correct"))
    }, Some(s"""
      WITH p AS (
        SELECT lang, $langCaseSql AS pred FROM documents),
      m AS (SELECT lang, pred, count(*) AS n FROM p GROUP BY 1, 2),
      w AS (SELECT m.*, sum(n) OVER (PARTITION BY lang) AS tot FROM m)
      SELECT lang, pred, CAST(n AS BIGINT) AS n,
        CAST((n * 1000000) // tot AS BIGINT) AS row_share_ppm,
        CAST(CASE WHEN lang = pred THEN n ELSE 0 END AS BIGINT)
          AS n_correct
      FROM w""")),

    // Simpson diversity of the token distribution per source (1−Σp²
    // ppm, plus the inverse-Simpson "effective vocabulary size"):
    // the concentration-weighted companion to entropy — entropy
    // (q129/q207 family) weights rare types heavily, Simpson is
    // dominated by the head, so a source whose top-10 tokens carry
    // half its mass scores low here even with a huge tail vocabulary;
    // inverse Simpson reads as "this source effectively uses N
    // tokens". Scale shape: ONE (source, tok) map-side-combined agg +
    // a registry-sized rollup; Σf² and T² are exact integers (T² int64
    // headroom to T ≈ 3e9; rescale f to kilo-counts past that —
    // documented). No float probabilities anywhere.
    Q("q268_simpson_diversity", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"source", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("f"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_types"), sum($"f").as("n_tokens"),
          sum($"f" * $"f").as("sf2"))
        .select($"source", $"n_types", $"n_tokens",
          expr("1000000 - (sf2 * 1000000) div (n_tokens * n_tokens)")
            .as("simpson_ppm"),
          expr("(n_tokens * n_tokens * 1000) div sf2")
            .as("inv_simpson_milli"))
    }, Some("""
      WITH st AS (
        SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents),
      f AS (SELECT source, tok, count(*) AS f FROM st GROUP BY 1, 2),
      g AS (SELECT source, count(*) AS n_types, sum(f) AS n_tokens,
              sum(f * f) AS sf2
            FROM f GROUP BY 1)
      SELECT source, CAST(n_types AS BIGINT) AS n_types,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(1000000 - (sf2 * 1000000) // (n_tokens * n_tokens)
          AS BIGINT) AS simpson_ppm,
        CAST((n_tokens * n_tokens * 1000) // sf2 AS BIGINT)
          AS inv_simpson_milli
      FROM g""")),

    // Good-Turing missing-mass estimate per source: the share of the
    // NEXT crawl's tokens expected to be unseen types (p0 = N1/N,
    // singleton mass over total mass) plus the frequency-of-
    // frequencies head (N1, N2) and the Good-Turing adjusted singleton
    // count r1* = 2·N2/N1 — the coverage planner's number ("how much
    // vocabulary is this source still hiding?") that complements
    // q156's Heaps GROWTH CURVE (trajectory so far) and q236's Hill
    // tail INDEX (shape of the seen head) with a forward-looking
    // unseen-probability estimate. Exactness: pure integer counts;
    // ppm/milli floor division; the r1* guard for N1 = 0 spelled as
    // the same CASE in both engines. Scale shape: ONE (source, token)
    // map-side-combined agg collapses the corpus; everything after
    // rides the registry-sized spectrum frame.
    Q("q288_missing_mass", (s, d) => {
      import s.implicits._
      val tf = t(s, d, "documents")
        .select($"source", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("f"))
      tf.groupBy($"source")
        .agg(sum($"f").as("n_tokens"), count(lit(1)).as("n_types"),
          sum(when($"f" === 1, 1L).otherwise(0L)).as("n1"),
          sum(when($"f" === 2, 1L).otherwise(0L)).as("n2"))
        .select($"source", $"n_tokens", $"n_types", $"n1", $"n2",
          expr("(n1 * 1000000) div n_tokens").as("p0_ppm"),
          expr("CASE WHEN n1 = 0 THEN 0 ELSE (2000 * n2) div n1 END")
            .as("r1_star_milli"))
    }, Some("""
      WITH tok AS (
        SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents),
      tf AS (SELECT source, tok, count(*) AS f FROM tok GROUP BY 1, 2),
      g AS (SELECT source, sum(f) AS n_tokens, count(*) AS n_types,
              sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS n1,
              sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS n2
            FROM tf GROUP BY 1)
      SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(n_types AS BIGINT) AS n_types,
        CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        CAST((n1 * 1000000) // n_tokens AS BIGINT) AS p0_ppm,
        CAST(CASE WHEN n1 = 0 THEN 0 ELSE (2000 * n2) // n1 END
          AS BIGINT) AS r1_star_milli
      FROM g""")),

    // Positional proximity search (the search-engine operator BM25
    // can't express): for the corpus's top bigram, how many docs match
    // it as an exact PHRASE (adjacent positions), within a 5-token
    // proximity window, and as a bag-of-words AND — the
    // phrase-vs-AND precision gap that quantifies exactly how lossy
    // q112's bag-of-words scoring is for multi-word queries. Scale
    // shape: the probe bigram is a k=1 TakeOrderedAndProject on the
    // (count, shingle) total order; the positional index is ONE
    // posexplode (linear); both occurrence lists are FILTERED scans
    // (probe words only) joined per doc — fan-out bounded by per-doc
    // occurrence counts (doc-length bounded, never corpus-sized);
    // distinct-doc rollups after.
    Q("q304_proximity_search", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val top = TextOps.shingleRows(docs, "doc_id", "text", n = 2)
        .groupBy($"shingle").agg(count(lit(1)).as("c"))
        .orderBy($"c".desc, $"shingle".asc).limit(1)
        .select(substring_index($"shingle", " ", 1).as("w1"),
          substring_index($"shingle", " ", -1).as("w2"))
      val pos = docs.select($"doc_id",
        posexplode(TextOps.tokens($"text")).as(Seq("p", "tok")))
      val occ = pos.crossJoin(broadcast(top))
      val a = occ.filter($"tok" === $"w1")
        .select($"doc_id", $"p".as("pa"), $"w1", $"w2")
      val b = occ.filter($"tok" === $"w2")
        .select($"doc_id", $"p".as("pb"))
      val j = a.join(b, "doc_id")
        .groupBy($"doc_id", $"w1", $"w2")
        .agg(max(when($"pb" === $"pa" + 1, 1L).otherwise(0L)).as("ph"),
          max(when(greatest($"pb" - $"pa", $"pa" - $"pb") <= 5, 1L)
            .otherwise(0L)).as("px"))
      j.groupBy($"w1", $"w2")
        .agg(sum($"ph").as("n_phrase"), sum($"px").as("n_prox5"),
          count(lit(1)).as("n_and"))
        .select($"w1", $"w2", $"n_phrase", $"n_prox5", $"n_and",
          expr("(n_phrase * 1000000) div n_and").as("phrase_share_ppm"))
    }, Some("""
      WITH tk AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
          unnest(list_transform(range(1, greatest(len(toks), 2)),
            i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]))
            AS shingle
        FROM tk WHERE len(toks) >= 2),
      top AS (
        SELECT string_split(shingle, ' ')[1] AS w1,
          string_split(shingle, ' ')[2] AS w2
        FROM (SELECT shingle, count(*) AS c FROM sh GROUP BY 1
              ORDER BY c DESC, shingle ASC LIMIT 1)),
      pos AS (
        SELECT doc_id, unnest(toks) AS tok,
          generate_subscripts(toks, 1) - 1 AS p
        FROM tk),
      a AS (SELECT pos.doc_id, pos.p AS pa, top.w1, top.w2
            FROM pos CROSS JOIN top WHERE pos.tok = top.w1),
      b AS (SELECT pos.doc_id, pos.p AS pb
            FROM pos CROSS JOIN top WHERE pos.tok = top.w2),
      j AS (
        SELECT a.doc_id, a.w1, a.w2,
          max(CASE WHEN b.pb = a.pa + 1 THEN 1 ELSE 0 END) AS ph,
          max(CASE WHEN greatest(b.pb - a.pa, a.pa - b.pb) <= 5
            THEN 1 ELSE 0 END) AS px
        FROM a JOIN b USING (doc_id)
        GROUP BY 1, 2, 3)
      SELECT w1, w2, CAST(sum(ph) AS BIGINT) AS n_phrase,
        CAST(sum(px) AS BIGINT) AS n_prox5,
        CAST(count(*) AS BIGINT) AS n_and,
        CAST((sum(ph) * 1000000) // count(*) AS BIGINT)
          AS phrase_share_ppm
      FROM j GROUP BY 1, 2""")),

    // BPE merge-table induction (the canonical iterative LLM-pipeline
    // text operator: learn the first 8 merge rules from the corpus —
    // tokenizer TRAINING, where q147/q79 only apply or size a fixed
    // tokenization). Semantics, the two-path design, and the
    // double-space replace encoding that makes Spark, the driver loop,
    // and DuckDB replay IDENTICAL greedy merges (including tie-breaks)
    // are pinned on [[BpeOps.bpeMergeTable]]. k is FIXED at 8 so the
    // oracle is expressible as 8 unrolled (MATERIALIZED — the chain is
    // referenced twice per round, inlining would recompute
    // exponentially) CTE rounds. Exactness: pure integer pair counts,
    // total-order argmax. Scale: corpus collapses to the Heaps-bounded
    // word-frequency table in ONE map-side-combined agg; every round
    // after that touches vocabulary rows only.
    Q("q356_bpe_merges", (s, d) => {
      import s.implicits._
      val words = t(s, d, "documents")
        .select(explode(
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
        .groupBy($"word").agg(count(lit(1)).as("cnt"))
      BpeOps.bpeMergeTable(words, 8)
    }, Some(bpeOracleSql(8))),

    // T5/UL2 span-corruption masking statistics: the pretraining-
    // objective preparation step — every token position gets a
    // deterministic mask decision (15% rate via the hashMix family, so
    // both engines and every rerun mask the SAME positions), and the
    // per-source report gives masked-token ppm, span count, and mean
    // span length — the numbers that calibrate a denoising objective
    // (mean span vs the target ~3, mask rate vs the configured 15%)
    // before a single training batch is cut. Span boundaries come from
    // a lag over (doc, pos) — the window is per-document (bounded by
    // doc length, the q26/q97 sequence convention), never global.
    // Scale shape: one posexplode pass, row-local mask decisions, one
    // per-doc window, ONE map-side-combined source agg.
    Q("q364_span_corruption", (s, d) => {
      import s.implicits._
      val pos = t(s, d, "documents")
        .select($"doc_id", $"source",
          posexplode(TextOps.tokens($"text")).as(Seq("p", "tok")))
        .select($"doc_id", $"source", $"p".cast("long").as("pos"),
          (CorpusOps.hashMix($"doc_id" * 1009L + $"p".cast("long"),
            1000L) < 150).as("m"))
      val w = Window.partitionBy($"doc_id").orderBy($"pos".asc)
      pos.withColumn("pm", lag($"m", 1, false).over(w))
        .groupBy($"source")
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          sum(when($"m", 1L).otherwise(0L)).cast("long").as("n_masked"),
          sum(when($"m" && !$"pm", 1L).otherwise(0L)).cast("long")
            .as("n_spans"))
        .select($"source", $"n_tokens", $"n_masked",
          expr("(n_masked * 1000000) div n_tokens").as("masked_ppm"),
          $"n_spans",
          expr("""CASE WHEN n_spans = 0 THEN CAST(0 AS BIGINT)
            ELSE (n_masked * 1000) div n_spans END""")
            .as("mean_span_milli"))
    }, Some("""
      WITH p AS (
        SELECT doc_id, source,
          unnest(range(0,
            len(string_split_regex(trim(text), '\s+')))) AS pos
        FROM documents),
      pm AS (
        SELECT doc_id, source, pos,
          ((((((doc_id * 1009 + pos) % 1000003) + 1000003) % 1000003)
            * 2654435761 + 40503) % 1000 + 1000) % 1000 < 150 AS m
        FROM p),
      pl AS (
        SELECT source, m,
          coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY pos ASC),
            false) AS pmv
        FROM pm)
      SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) * 1000000 // count(*)
          AS BIGINT) AS masked_ppm,
        CAST(sum(CASE WHEN m AND NOT pmv THEN 1 ELSE 0 END) AS BIGINT)
          AS n_spans,
        CAST(CASE WHEN sum(CASE WHEN m AND NOT pmv THEN 1 ELSE 0 END) = 0
          THEN 0
          ELSE sum(CASE WHEN m THEN 1 ELSE 0 END) * 1000
            // sum(CASE WHEN m AND NOT pmv THEN 1 ELSE 0 END) END
          AS BIGINT) AS mean_span_milli
      FROM pl GROUP BY 1""")),

    // BPE compression readout — the learn → APPLY → measure loop
    // closed end-to-end: learn the first 8 merges on the corpus-wide
    // word-frequency table (q356's exact learner, identical argmax
    // tie-breaks), apply them to every source's word table, and report
    // per source the character mass, the post-merge symbol count, and
    // the compression ratio — the fertility-after-training number that
    // decides whether a tokenizer's merges transfer across domains
    // (a source whose compression lags the corpus needs its own merges
    // or more weight in the training mix). The learned table is k = 8
    // rows — model-sized — so the application is 8 chained literal
    // `replace`s over the double-space encoding (the q356 greedy-pass
    // equivalence), all inside codegen. Scale shape: corpus collapses
    // to Heaps-bounded (source, word) and (word) frequency tables in
    // one pass each; the learner is q356's two-path loop; application
    // + the final agg never touch corpus rows again.
    Q("q366_bpe_compression", (s, d) => {
      import s.implicits._
      val srcWords = t(s, d, "documents")
        .select($"source", explode(
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
        .groupBy($"source", $"word")
        .agg(count(lit(1)).as("cnt")).persist()
      val globalWords = srcWords.groupBy($"word")
        .agg(sum($"cnt").cast("long").as("cnt"))
      val merges = BpeOps.learnMerges(globalWords, 8)
      val enc = srcWords.select($"source", $"cnt",
        length($"word").cast("long").as("wlen"),
        regexp_replace($"word", "(.)", " $1 ").as("s"))
      val applied = merges.foldLeft(enc) { (acc, m) =>
        // symbols are [a-z]+-derived — no escaping hazard (q356)
        acc.withColumn("s",
          expr(s"replace(s, ' ${m.lft}  ${m.rgt} ', ' ${m.lft}${m.rgt} ')"))
      }
      applied
        .select($"source", $"cnt", $"wlen",
          size(split(trim($"s"), "  ")).cast("long").as("nsym"))
        .groupBy($"source")
        .agg(sum($"cnt").cast("long").as("n_words"),
          sum($"wlen" * $"cnt").cast("long").as("n_chars"),
          sum($"nsym" * $"cnt").cast("long").as("n_symbols"))
        .select($"source", $"n_words", $"n_chars", $"n_symbols",
          expr("(n_symbols * 1000000) div n_chars")
            .as("compression_ppm"))
    }, Some(bpeCompressionOracleSql(8)))
  )

  /** DuckDB twin of [[BpeOps.bpeMergeTable]]: k unrolled rounds of
    * pair-count -> argmax -> double-space-encoded greedy replace.
    * MATERIALIZED is load-bearing: w{i} and p{i+1} both reference w{i-1}
    * (and each w{i} reads m{i} twice), so DuckDB's default CTE inlining
    * re-evaluates the whole chain ~4^k times (measured: >120 s at k=8
    * on sf0.01; materialized: milliseconds). */
  private[operators] def bpeOracleSql(k: Int): String = {
    val w0 =
      """w0 AS MATERIALIZED (
        |  SELECT regexp_replace(word, '(.)', ' \1 ', 'g') AS s, cnt
        |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS cnt
        |        FROM (SELECT unnest(regexp_extract_all(lower(text),
        |                '[a-z]+')) AS word FROM documents) u
        |        GROUP BY 1) wc)""".stripMargin
    val rounds = (1 to k).flatMap { i =>
      val pm = Seq(
        s"""p$i AS MATERIALIZED (
           |  SELECT l[i] AS lft, l[i + 1] AS rgt, sum(cnt) AS c
           |  FROM (SELECT l, cnt, unnest(generate_series(1, len(l) - 1)) AS i
           |        FROM (SELECT string_split(trim(s), '  ') AS l, cnt
           |              FROM w${i - 1}) q0) q1
           |  GROUP BY 1, 2)""".stripMargin,
        s"""m$i AS MATERIALIZED (
           |  SELECT CAST($i AS BIGINT) AS round, lft, rgt, c FROM p$i
           |  ORDER BY c DESC, lft ASC, rgt ASC LIMIT 1)""".stripMargin)
      if (i == k) pm else pm :+
        s"""w$i AS MATERIALIZED (
           |  SELECT replace(s,
           |    (SELECT ' ' || lft || '  ' || rgt || ' ' FROM m$i),
           |    (SELECT ' ' || lft || rgt || ' ' FROM m$i)) AS s, cnt
           |  FROM w${i - 1})""".stripMargin
    }
    val union = (1 to k).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
    s"WITH ${(w0 +: rounds).mkString(",\n")}\n" +
      "SELECT round, lft, rgt, lft || rgt AS merged," +
      s" CAST(c AS BIGINT) AS pair_count FROM ($union) m"
  }

  /** q366's oracle: q356's learn chain (w0/p_i/m_i CTEs, identical
    * argmax tie-breaks) INCLUDING the intermediate w_i tables, then the
    * per-source word table pushed through the same k merges and rolled
    * up to the compression report. */
  private[operators] def bpeCompressionOracleSql(k: Int): String = {
    val w0 =
      """w0 AS MATERIALIZED (
        |  SELECT regexp_replace(word, '(.)', ' \1 ', 'g') AS s, cnt
        |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS cnt
        |        FROM (SELECT unnest(regexp_extract_all(lower(text),
        |                '[a-z]+')) AS word FROM documents) u
        |        GROUP BY 1) wc)""".stripMargin
    val rounds = (1 to k).flatMap { i =>
      val pm = Seq(
        s"""p$i AS MATERIALIZED (
           |  SELECT l[i] AS lft, l[i + 1] AS rgt, sum(cnt) AS c
           |  FROM (SELECT l, cnt, unnest(generate_series(1, len(l) - 1)) AS i
           |        FROM (SELECT string_split(trim(s), '  ') AS l, cnt
           |              FROM w${i - 1}) q0) q1
           |  GROUP BY 1, 2)""".stripMargin,
        s"""m$i AS MATERIALIZED (
           |  SELECT lft, rgt FROM p$i
           |  ORDER BY c DESC, lft ASC, rgt ASC LIMIT 1)""".stripMargin)
      if (i == k) pm else pm :+
        s"""w$i AS MATERIALIZED (
           |  SELECT replace(s,
           |    (SELECT ' ' || lft || '  ' || rgt || ' ' FROM m$i),
           |    (SELECT ' ' || lft || rgt || ' ' FROM m$i)) AS s, cnt
           |  FROM w${i - 1})""".stripMargin
    }
    val ws0 =
      """ws0 AS MATERIALIZED (
        |  SELECT source, cnt, length(word) AS wlen,
        |    regexp_replace(word, '(.)', ' \1 ', 'g') AS s
        |  FROM (SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
        |        FROM (SELECT source, unnest(regexp_extract_all(lower(text),
        |                '[a-z]+')) AS word FROM documents) u
        |        GROUP BY 1, 2) wc)""".stripMargin
    val appls = (1 to k).map { i =>
      s"""ws$i AS (
         |  SELECT source, cnt, wlen, replace(s,
         |    (SELECT ' ' || lft || '  ' || rgt || ' ' FROM m$i),
         |    (SELECT ' ' || lft || rgt || ' ' FROM m$i)) AS s
         |  FROM ws${i - 1})""".stripMargin
    }
    s"WITH ${((w0 +: rounds) ++ (ws0 +: appls)).mkString(",\n")}\n" +
      s"""SELECT source, CAST(sum(cnt) AS BIGINT) AS n_words,
         |  CAST(sum(wlen * cnt) AS BIGINT) AS n_chars,
         |  CAST(sum(len(string_split(trim(s), '  ')) * cnt) AS BIGINT)
         |    AS n_symbols,
         |  CAST(sum(len(string_split(trim(s), '  ')) * cnt) * 1000000
         |    // sum(wlen * cnt) AS BIGINT) AS compression_ppm
         |FROM ws$k GROUP BY 1""".stripMargin
  }

  /** The 10 nDCG position discounts floor(1e6 / log2(i + 1)),
    * i = 1..10, precomputed once so both engines consume identical
    * integer literals (no runtime log2 rounding to diverge). */
  private[operators] val ndcgDiscMicro: Seq[Long] = (1 to 10).map(i =>
    math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)
}
