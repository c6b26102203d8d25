package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.{Q, QueryModule}
import graft.catalog.Tables.t

/** Deduplication surface: exact, prefix-filtered exact n-gram Jaccard
  * (the truth set), SimHash (+hamming pairs), MinHash+LSH (the
  * approximate scale path).
  */
object DedupQueries extends QueryModule {


  /** DuckDB twin of [[TextOps.distinctWindows]]: emits the CTE
    * pair `dtoks, wins` (distinct (doc_id, win) rows) over source CTE
    * `src` — ONE definition for the q77/q100/q103 oracles, over the same
    * [[TextOps.windowTokens]], so the window shape cannot drift from the
    * Spark side's shared helper. */
  private[operators] def winCteSql(src: String): String = {
    val w = TextOps.windowTokens
    val terms = (0 until w).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""dtoks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |           FROM $src),
       |wins AS (SELECT DISTINCT doc_id,
       |           unnest(list_transform(range(1, greatest(len(toks) - ${w - 2}, 1)),
       |             i -> $terms)) AS win
       |         FROM dtoks)""".stripMargin
  }

  /** Document pairs with trigram-shingle Jaccard j >= 0.5 as (doc_a,
    * doc_b, j): the q33 truth set, shared by q33 and q250. `j` is the
    * double `inter / union`, the value the DuckDB oracles compute. */
  private def shingleJaccardPairs(docs: DataFrame): DataFrame = {
    val sets = docs.select(col("doc_id"), TextOps.shingleSet(col("text")).as("s"))
    DedupOps.jaccardPairs(sets, "doc_id", "s", 0.5)
      .withColumn("j", col("inter").cast("double") /
        (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .filter(col("j") >= 0.5)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("j"))
  }

  /** DuckDB flavor of [[DedupOps.hv32Sql]] (no `L` literal suffix). */
  private def hvDuck: String = hvDuckOf("t")

  private[operators] def hvDuckOf(v: String): String =
    (1 to 8).map { p =>
      val coef = math.pow(16, 8 - p).toLong
      s"(instr('0123456789abcdef', substr(md5($v), $p, 1)) - 1) * $coef"
    }.mkString(" + ")

  /** 60-bit twin of [[hvDuckOf]] over a PRE-COMPUTED md5 hex var (15
    * positional terms; 16^14 = 2^56, every coefficient and the sum stay
    * exact in BIGINT). The digest is materialized ONCE in a CTE before
    * this parses it — 15 inline `md5(t)` repeats would be 15 digests per
    * token in DuckDB (no CSE across the chain). */
  private[operators] def hvDuck60OfHex(m: String): String =
    (1 to 15).map { p =>
      val coef = math.pow(16, 15 - p).toLong
      s"(instr('0123456789abcdef', substr($m, $p, 1)) - 1) * $coef"
    }.mkString(" + ")

  /** 60-bit SimHash in DuckDB SQL — twin of
    * [[DedupOps.simhash60FromTokenRows]] (the band-saturation fix; see
    * that Scaladoc for the 60-vs-64 arithmetic argument). */
  private[operators] def simhash60DuckSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
       |  FROM documents),
       |hm AS (SELECT doc_id, md5(t) AS m FROM tok),
       |h AS (SELECT doc_id, ${hvDuck60OfHex("m")} AS hv FROM hm),
       |bits AS (
       |  SELECT doc_id, i,
       |    CASE WHEN sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
       |         THEN 1 ELSE 0 END AS b
       |  FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS i) ii
       |  GROUP BY doc_id, i)
       |SELECT doc_id,
       |  CAST(sum(b * (CAST(1 AS BIGINT) << i)) AS BIGINT) AS simhash
       |FROM bits GROUP BY doc_id""".stripMargin

  /** Engine-independent SimHash in DuckDB SQL (explode + group-by form of
    * the row-local Spark computation). Shared with [[CorpusQueries]]'s
    * cluster-resolution oracle so both replay the identical signature. */
  private[operators] def simhashDuckSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
       |  FROM documents),
       |h AS (SELECT doc_id, $hvDuck AS hv FROM tok),
       |bits AS (
       |  SELECT doc_id, i,
       |    CASE WHEN sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
       |         THEN 1 ELSE 0 END AS b
       |  FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS i) ii
       |  GROUP BY doc_id, i)
       |SELECT doc_id,
       |  CAST(sum(b * (CAST(1 AS BIGINT) << i)) AS BIGINT) AS simhash
       |FROM bits GROUP BY doc_id""".stripMargin

  def qs: Seq[Q] = Seq(

    // exact dedup by hash key: one shuffle, map-side combine.
    Q("q32_dedup_exact", (s, d) => {
      import s.implicits._
      DedupOps.exactDedup(t(s, d, "documents"),
        md5(substring($"text", 1, 40)), $"doc_id")
    }, Some("""
      SELECT md5(substr(text, 1, 40)) AS dup_key,
             min(doc_id) AS canonical_id, count(*) AS n_dups
      FROM documents GROUP BY 1""")),

    // dedup observability: the per-source duplication report a curation
    // dashboard tracks (a source whose dup rate spikes is re-crawling
    // itself). One agg over (source, fingerprint) then one over source —
    // both map-side combined; integer ppm rate.
    Q("q104_dedup_report", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"source", TextOps.fingerprint($"text").as("fp"))
        .groupBy($"source", $"fp").agg(count(lit(1)).as("c"))
        .groupBy($"source")
        .agg(sum($"c").cast("long").as("n_docs"),
          count(lit(1)).cast("long").as("n_unique"))
        .select($"source", $"n_docs", $"n_unique",
          expr("((n_docs - n_unique) * 1000000) div n_docs").as("dup_ppm"))
    }, Some("""
      WITH f AS (
        SELECT source,
          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
      g AS (SELECT source, fp, count(*) AS c FROM f GROUP BY 1, 2)
      SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        CAST(count(*) AS BIGINT) AS n_unique,
        CAST((sum(c) - count(*)) * 1000000 // sum(c) AS BIGINT) AS dup_ppm
      FROM g GROUP BY source""")),

    // exact trigram-shingle Jaccard >= 0.5 pairs (DedupOps.jaccardPairs)
    // — excluded from bench so catalog totals stay comparable.
    Q("q33_jaccard_pairs", (s, d) => {
      import s.implicits._
      shingleJaccardPairs(t(s, d, "documents"))
        .select($"doc_a", $"doc_b", round($"j", 6).as("jaccard"))
    }, Some("""
      WITH d AS (
        SELECT doc_id,
          list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              FROM documents))
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        round(len(list_intersect(a.s, b.s)) * 1.0 /
              len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s)) * 1.0 /
            len(list_distinct(list_concat(a.s, b.s))) >= 0.5"""),
      bench = false),

    // 32-bit SimHash signatures (engine-independent md5-derived token
    // hashes so the oracle can recompute them exactly), explode + 32
    // codegen'd conditional sums.
    Q("q34_simhash", (s, d) => {
      import s.implicits._
      val tokRows = t(s, d, "documents")
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      DedupOps.simhash32FromTokenRows(tokRows, "doc_id", "tok", "simhash")
        .select($"doc_id", $"simhash")
    }, Some(simhashDuckSql)),

    // near-dup pairs by SimHash hamming distance via exact pigeonhole
    // banding (equi-join candidates, no quadratic nested loop; threshold
    // 1 ≈ the planted near-duplicates). Oracle runs the brute form.
    Q("q35_simhash_pairs", (s, d) => {
      import s.implicits._
      val tokRows = t(s, d, "documents")
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      val sigs = DedupOps.simhash32FromTokenRows(tokRows, "doc_id", "tok", "simhash")
        .select($"doc_id", $"simhash")
      DedupOps.simhashPairsBanded(sigs, "doc_id", "simhash", maxHamming = 1)
    }, Some(
      s"""WITH sh AS ($simhashDuckSql)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1""".stripMargin)),

    // exact substring-duplication profile (the Lee et al. 2022 "dedup
    // training data" family, window-hash approximated): every 8-token
    // rolling window is hashed; a window seen in >1 document marks its
    // span as duplicated text, and each document reports its duplicated-
    // window fraction (the signal that decides trim-vs-drop). The corpus
    // has no natural long shared spans, so the query plants a fixed
    // 12-token tail on doc_id % 7 == 3 (q55/q70 planting precedent) —
    // those docs must surface dup_frac > 0. Scale shape (round-16 opt):
    // the window stream assembles row-locally; the ONLY shuffles are
    // the window-keyed (wdf, owner) agg and a per-doc unique-count agg
    // — both map-side combined, no corpus-side join at any scale (the
    // old form joined the vocabulary-sized frequency table back onto
    // every (doc, window) row).
    Q("q77_window_dedup", (s, d) => {
      import s.implicits._
      val planted = t(s, d, "documents").select($"doc_id",
        when($"doc_id" % 7 === 3,
          concat($"text",
            lit(" the quick brown fox jumps over the lazy dog again and again")))
        .otherwise($"text").as("text"))
      // round-16 opt: the corpus rows never cross a join. A doc's
      // duplicated-window count is nw - nu, nu from the owner-carrying
      // uniqueWindowCounts and nw the row-local windowCount. The old
      // withWindowFreq form joined the frequency table back onto every
      // (doc, window) row (a second evaluation of the window stream AND
      // a corpus-side join).
      val uniq = TextOps.uniqueWindowCounts(
        TextOps.distinctWindows(planted, "doc_id", "text"), "doc_id")
      planted.select($"doc_id", TextOps.windowCount($"text").as("nw"))
        .join(uniq, Seq("doc_id"), "left_outer")
        .select($"doc_id",
          $"nw".as("n_windows"),
          ($"nw" - coalesce($"nu", lit(0L))).cast("long")
            .as("n_dup_windows"),
          // floor-quantized ppm, not round(double, 6): round's half-tie
          // behavior is engine-specific (BASELINE.md), floor of the same
          // IEEE double is not (q99 convention)
          floor(when($"nw" === 0L, lit(0.0))
            .otherwise(($"nw" - coalesce($"nu", lit(0L))).cast("double")
              / $"nw" * 1000000d))
            .cast("long").as("dup_ppm"))
    }, Some(s"""
      WITH raw AS (
        SELECT doc_id,
          CASE WHEN doc_id % 7 = 3
            THEN text || ' the quick brown fox jumps over the lazy dog again and again'
            ELSE text END AS text
        FROM documents),
      ${winCteSql("raw")},
      fq AS (SELECT win, count(*) AS wdf FROM wins GROUP BY 1),
      per AS (SELECT wins.doc_id, count(*) AS nw,
                     sum(CASE WHEN fq.wdf > 1 THEN 1 ELSE 0 END) AS nd
              FROM wins JOIN fq USING (win) GROUP BY 1)
      SELECT r.doc_id,
        CAST(coalesce(per.nw, 0) AS BIGINT) AS n_windows,
        CAST(coalesce(per.nd, 0) AS BIGINT) AS n_dup_windows,
        CAST(floor(CASE WHEN per.nw IS NULL THEN 0.0
                   ELSE per.nd * 1.0 / per.nw * 1000000 END) AS BIGINT)
          AS dup_ppm
      FROM documents r LEFT JOIN per ON per.doc_id = r.doc_id""")),

    // excerpt/containment detection — the asymmetric complement of
    // Jaccard near-dup (q33/q36): find doc pairs sharing a CONTIGUOUS
    // span (quotes, syndicated excerpts, copy-pasted passages) that may
    // be a tiny fraction of either doc. Rolling 8-token windows (the
    // shared TextOps.distinctWindows frame); pairs form ONLY through
    // windows rarer than the boilerplate cap (wdf <= 20 — frequent
    // windows are chrome, q70's territory, and capping them bounds the
    // per-window pair fan-out at 20^2 at any corpus size); a pair is
    // reported when >= 5 distinct windows co-occur, with per-side
    // coverage fractions so policy can distinguish "B quotes A" from
    // "A and B share boilerplate". Planted: pairs (50k+3, 50k+4) share
    // a 15-token span whose EVERY token carries the group id — all 8
    // fully-in-span windows are group-specific with wdf = 2 at ANY
    // corpus size (a group-agnostic tail would cross the wdf cap as
    // soon as the planted population exceeds it).
    Q("q103_excerpt_pairs", (s, d) => {
      import s.implicits._
      val g = expr("doc_id div 50").cast("string")
      val tailWords = Seq("shared", "excerpt", "span", "alpha", "beta",
        "gamma", "delta", "epsilon", "zeta", "eta", "theta", "iota",
        "kappa", "lambda", "mu")
      val tail = concat(tailWords.map(w => concat(lit(s" $w"), g)): _*)
      val planted = t(s, d, "documents").select($"doc_id",
        when($"doc_id" % 50 === 3 || $"doc_id" % 50 === 4,
          concat($"text", tail))
        .otherwise($"text").as("text"))
      // shared by the rare-window branch AND the per-doc size agg —
      // deliberately NOT persisted. History: an eager localCheckpoint
      // here leaked blocks across the catalog run (round-5 verdict
      // finding #1); its persist() replacement then showed the same
      // session-sticky bimodality as the removed q54/q81 runtime guards
      // (round-9/10 A/B, BASELINE.md: persist medians 4.0/2.1 s with
      // 10.7/15.0 s tails vs 1.7/1.9 s with the shared subtree simply
      // recomputed per consumer). The distinctWindows stage is linear
      // row-local work, so recompute-per-consumer is also the honest
      // 100 TB answer — materializing a shingle-exploded corpus-sized
      // frame into executor memory is exactly what a block manager
      // under pressure cannot absorb.
      val wins = TextOps.distinctWindows(planted, "doc_id", "text")
      val rare = TextOps.withWindowFreq(wins).filter($"wdf" <= 20)
      // per-doc distinct-window count is a row-local fact (q31/q116
      // convention, round-16): replaces a THIRD evaluation of the
      // window stream plus its doc-keyed agg exchange. Zero-window
      // docs gain a (doc, 0) row the agg form lacked — unobservable:
      // sizes only inner-joins to pair docs (>= 5 shared windows).
      val sizes = planted.select($"doc_id", TextOps.windowCount($"text").as("nw"))
      // pairs come from a per-window sorted doc list, NOT a rare×rare
      // self-join: the wdf <= 20 filter runs BEFORE the collect, so
      // every group is <= 20 docs (<= 190 pairs) by construction — no
      // unbounded agg buffer — and the groupBy reuses the frequency
      // window's shingle partitioning, so no extra shuffle. This also
      // halves the distinct-window recomputes (the self-join's two
      // sides each re-derived the frame; round-10 A/B in BASELINE.md).
      // Checkpoint 7 A/B'd the single-pass BoundedCollect form here
      // (count + capped list in one agg, no join-back): shuffle bytes
      // ROSE 6.9 -> 8.9 MB (list-buffer serialization beats the saved
      // count partials) — kept out, the q116 measured-non-win rule.
      val shared = PairOps.pairCounts(rare.groupBy($"shingle")
          .agg(sort_array(collect_list($"doc_id")).as("ds")),
          "ds", "doc_a", "doc_b", "shared")
        .filter($"shared" >= 5)
      shared
        .join(sizes.select($"doc_id".as("doc_a"), $"nw".as("nwa")), "doc_a")
        .join(sizes.select($"doc_id".as("doc_b"), $"nw".as("nwb")), "doc_b")
        .select($"doc_a", $"doc_b", $"shared".cast("long").as("shared"),
          expr("(shared * 1000000) div nwa").as("cov_a_ppm"),
          expr("(shared * 1000000) div nwb").as("cov_b_ppm"))
    }, Some {
      val tailSql = Seq("shared", "excerpt", "span", "alpha", "beta",
        "gamma", "delta", "epsilon", "zeta", "eta", "theta", "iota",
        "kappa", "lambda", "mu")
        .map(w => s"' $w' || (doc_id // 50)").mkString(" || ")
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 50 IN (3, 4)
         |      THEN text || $tailSql
         |      ELSE text END AS text
         |  FROM documents),
         |${winCteSql("raw")},
         |fq AS (SELECT win, count(*) AS wdf FROM wins GROUP BY 1),
         |rare AS (SELECT wins.doc_id, wins.win FROM wins JOIN fq USING (win)
         |         WHERE fq.wdf <= 20),
         |sz AS (SELECT doc_id, count(*) AS nw FROM wins GROUP BY 1),
         |sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |       FROM rare a JOIN rare b
         |         ON a.win = b.win AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2
         |       HAVING count(*) >= 5)
         |SELECT sh.doc_a, sh.doc_b, CAST(sh.shared AS BIGINT) AS shared,
         |  CAST(sh.shared * 1000000 // sa.nw AS BIGINT) AS cov_a_ppm,
         |  CAST(sh.shared * 1000000 // sb.nw AS BIGINT) AS cov_b_ppm
         |FROM sh
         |JOIN sz sa ON sa.doc_id = sh.doc_a
         |JOIN sz sb ON sb.doc_id = sh.doc_b""".stripMargin
    }),

    // sorted-neighborhood entity resolution (the Hernández/Stolfo merge/
    // purge family): near-duplicate TITLES found by prefix-blocking +
    // in-block sorted adjacency + edit-distance verify — the classic ER
    // blocking technique, complementary to hash/LSH blocking (q35/q36):
    // it catches single-character typos that change every shingle and
    // hash. Titles are the first 5 tokens; docs with doc_id % 9 == 2
    // plant a 2-char corruption of the PREVIOUS doc's title (planting
    // precedent), so real cross-doc near-pairs exist. Scale shape:
    // windows partition on the 6-char block prefix — parallel across
    // blocks, no global sort; lag-1/lag-2 adjacency bounds comparisons
    // to 2 per row; levenshtein is row-local (identical algorithm in
    // both engines).
    Q("q101_sorted_neighborhood", (s, d) => {
      import s.implicits._
      val base = t(s, d, "documents").select($"doc_id",
        array_join(slice(TextOps.tokens($"text"), 1, 5), " ").as("t0"))
      val prev = base.select(($"doc_id" + 1).as("doc_id"), $"t0".as("pt"))
      val titles = base.join(prev, Seq("doc_id"), "left_outer")
        .select($"doc_id",
          when($"doc_id" % 9 === 2 && $"pt".isNotNull,
            concat(substring($"pt", 1, 10), lit("zq"),
              substring($"pt", 13, 10000)))
          .otherwise($"t0").as("title"))
      // hot-prefix capped SNM (DedupOps.sortedNeighborhoodPairs): blocks
      // above 10k rows re-block on a 12-char prefix, so no single window
      // task can exceed the cap by more than the extended-prefix ties
      DedupOps.sortedNeighborhoodPairs(titles, "doc_id", "title",
        maxDist = 3, prefixLen = 6, extLen = 6, blockCap = 10000)
    }, Some("""
      WITH base AS (
        SELECT doc_id,
          array_to_string((string_split_regex(trim(text), '\s+'))[1:5], ' ')
            AS t0
        FROM documents),
      titles AS (
        SELECT b.doc_id,
          CASE WHEN b.doc_id % 9 = 2 AND p.t0 IS NOT NULL
            THEN substr(p.t0, 1, 10) || 'zq' || substr(p.t0, 13, 10000)
            ELSE b.t0 END AS title
        FROM base b LEFT JOIN base p ON p.doc_id = b.doc_id - 1),
      hot AS (
        SELECT substr(title, 1, 6) AS pfx FROM titles
        GROUP BY 1 HAVING count(*) > 10000),
      blocked AS (
        SELECT t.doc_id, t.title,
          CASE WHEN h.pfx IS NOT NULL THEN substr(t.title, 1, 12)
               ELSE substr(t.title, 1, 6) END AS blk
        FROM titles t LEFT JOIN hot h ON substr(t.title, 1, 6) = h.pfx),
      lagged AS (
        SELECT doc_id, title,
          lag(title, 1) OVER w AS t1, lag(doc_id, 1) OVER w AS i1,
          lag(title, 2) OVER w AS t2, lag(doc_id, 2) OVER w AS i2
        FROM blocked
        WINDOW w AS (PARTITION BY blk
                     ORDER BY title ASC, doc_id ASC)),
      p AS (
        SELECT least(doc_id, i1) AS doc_a, greatest(doc_id, i1) AS doc_b,
               levenshtein(title, t1) AS dist
        FROM lagged WHERE t1 IS NOT NULL AND levenshtein(title, t1) <= 3
        UNION ALL
        SELECT least(doc_id, i2), greatest(doc_id, i2),
               levenshtein(title, t2)
        FROM lagged WHERE t2 IS NOT NULL AND levenshtein(title, t2) <= 3)
      SELECT doc_a, doc_b, CAST(min(dist) AS BIGINT) AS dist
      FROM p GROUP BY doc_a, doc_b""")),

    // MinHash + LSH banding — the linear-ish scale path: signature is
    // row-local, candidates shuffle only on the band-value key, buckets
    // capped. Hashes are salted positional-md5, so the DuckDB oracle
    // recomputes the ENTIRE pipeline (signatures -> bands -> capped
    // buckets -> jaccard verify) exactly; recall vs the exact q33
    // baseline is additionally pinned in DedupSpec.
    Q("q36_minhash_lsh", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      // distinct shingle stream -> k min-aggregates -> band bucket join.
      // Persisted: 4 consumers below (signatures, set sizes, both sides
      // of the intersection join) project it differently, so
      // ReuseExchange can't canonicalize them — uncached, the
      // explode+distinct would run 4x (round-9 q69 lesson).
      val sr = TextOps.distinctShingleRows(docs, "doc_id", "text")
        .persist()
      val sigs = DedupOps.minhashSignatures(sr, "doc_id", "shingle", k = 16)
      val bandTable = DedupOps.lshBands(sigs, "doc_id", "sig", bands = 4, rows = 4)
      val cands = DedupOps.lshCandidates(bandTable, "doc_id")
      // verify candidates with exact jaccard, fully relationally:
      // |A∩B| via a shingle equi-join restricted to candidate pairs,
      // |A∪B| = |A|+|B|-|A∩B| from per-doc set sizes.
      val sizes = sr.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
      val inter = cands
        .join(sr.select($"doc_id".as("doc_a"), $"shingle"), "doc_a")
        .join(sr.select($"doc_id".as("doc_b"), $"shingle"), Seq("doc_b", "shingle"))
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.select($"doc_id".as("doc_a"), $"sz".as("sza")), "doc_a")
        .join(sizes.select($"doc_id".as("doc_b"), $"sz".as("szb")), "doc_b")
        .withColumn("j", $"inter".cast("double") /
          ($"sza" + $"szb" - $"inter").cast("double"))
        .filter($"j" >= 0.5)
        .select($"doc_a", $"doc_b", round($"j", 6).as("jaccard"))
    }, Some(
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
         |  FROM toks),
         |hv AS (SELECT doc_id, (${hvDuckOf("shingle")}) % 2147483647 AS hv
         |       FROM sh),
         |mh AS (
         |  SELECT doc_id, i,
         |    min((hv * ((i * 2654435761) % 2147483646 + 1)
         |         + (i * 40503 + 17) % 2147483647) % 2147483647) AS h
         |  FROM hv CROSS JOIN (SELECT unnest(range(0, 16)) AS i) ii
         |  GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, CAST(i // 4 AS INT) AS band_id,
         |         string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS bk
         |  FROM mh GROUP BY doc_id, i // 4),
         |bsz AS (SELECT band_id, bk, count(*) AS c FROM bands GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x
         |  JOIN bands y ON x.band_id = y.band_id AND x.bk = y.bk
         |              AND x.doc_id < y.doc_id
         |  JOIN bsz s ON s.band_id = x.band_id AND s.bk = x.bk
         |  WHERE s.c BETWEEN 2 AND 1000),
         |szs AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.doc_a
         |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |  GROUP BY c.doc_a, c.doc_b)
         |SELECT i.doc_a, i.doc_b,
         |  round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 6) AS jaccard
         |FROM inter i
         |JOIN szs sa ON sa.doc_id = i.doc_a
         |JOIN szs sb ON sb.doc_id = i.doc_b
         |WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= 0.5""".stripMargin)),

    // URL canonicalization + canonical-URL dedup: the crawl-frontier
    // step that collapses tracking-param / case / default-port /
    // trailing-slash / fragment variants of the same page before any
    // content fetch. URLs are planted deterministically from doc_id
    // (groups of 4 ids share a page, each id a different variant) so
    // both engines replay the identical input. The canonicalizer is a
    // row-local regexp chain with NO capture-group replacements
    // ($1 vs \1 is not engine-portable), all inside whole-stage
    // codegen; dedup is one agg shuffle on the canonical key with
    // map-side combine (count(distinct url) adds the standard two-phase
    // expand — still linear, no skew beyond the hottest page).
    Q("q109_url_canonical", (s, d) => {
      import s.implicits._
      val pid = expr("CAST(doc_id div 4 AS STRING)")
      val url = when($"doc_id" % 4 === 0,
          concat(lit("https://cdn.example.com/p/"), pid))
        .when($"doc_id" % 4 === 1,
          concat(lit("https://CDN.Example.COM/p/"), pid,
            lit("?utm_source=feed&utm_campaign=x")))
        .when($"doc_id" % 4 === 2,
          concat(lit("https://cdn.example.com:443/p/"), pid, lit("/")))
        .otherwise(
          concat(lit("https://cdn.example.com/p/"), pid, lit("#frag")))
      val nofrag = regexp_replace($"url", "#.*$", "")
      val sh = regexp_replace(
        lower(regexp_extract(nofrag, "^(https?://[^/]+)", 1)), ":443$", "")
      val rest = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_extract(nofrag, "^https?://[^/]+(.*)$", 1),
          "(utm_[a-z]+|fbclid|ref)=[^&]*", ""),
          "\\?&+", "?"), "&&+", "&"), "[?&]+$", "")
      t(s, d, "documents")
        .select($"doc_id", url.as("url"))
        .select($"doc_id", $"url",
          concat(sh, regexp_replace(rest, "/$", "")).as("canonical_url"))
        .groupBy($"canonical_url")
        .agg(min($"doc_id").as("canonical_id"),
          count(lit(1)).as("n_variants"),
          countDistinct($"url").as("n_raw"))
    }, Some("""
      WITH u AS (
        SELECT doc_id,
          CASE doc_id % 4
            WHEN 0 THEN 'https://cdn.example.com/p/' || CAST(doc_id // 4 AS VARCHAR)
            WHEN 1 THEN 'https://CDN.Example.COM/p/' || CAST(doc_id // 4 AS VARCHAR)
                        || '?utm_source=feed&utm_campaign=x'
            WHEN 2 THEN 'https://cdn.example.com:443/p/' || CAST(doc_id // 4 AS VARCHAR)
                        || '/'
            ELSE 'https://cdn.example.com/p/' || CAST(doc_id // 4 AS VARCHAR)
                 || '#frag' END AS url
        FROM documents),
      c AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag FROM u),
      p AS (
        SELECT doc_id, url,
          regexp_replace(lower(regexp_extract(nofrag, '^(https?://[^/]+)', 1)),
                         ':443$', '') AS sh,
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_extract(nofrag, '^https?://[^/]+(.*)$', 1),
            '(utm_[a-z]+|fbclid|ref)=[^&]*', '', 'g'),
            '\?&+', '?'), '&&+', '&', 'g'), '[?&]+$', '') AS rest
        FROM c)
      SELECT sh || regexp_replace(rest, '/$', '') AS canonical_url,
        min(doc_id) AS canonical_id,
        CAST(count(*) AS BIGINT) AS n_variants,
        CAST(count(DISTINCT url) AS BIGINT) AS n_raw
      FROM p GROUP BY 1""")),

    // incremental ingest dedup: admit a new crawl batch against an
    // EXISTING corpus index without recomputing the corpus — the
    // cross-run curation step (every real pipeline runs dedup
    // batch-vs-index daily, not corpus-vs-corpus). Batch = doc_id%5==0,
    // index = the rest; fingerprint = md5 of the
    // whitespace/case-normalized text. Plan: the index collapses to
    // DISTINCT fingerprints (one map-side-combined agg — in production
    // this frame is the persisted index, e.g. the keyed-JSON sink read
    // back), then ONE shuffled left join on the fingerprint key marks
    // batch docs already known; first-in-batch is a window over the
    // fingerprint (bounded by the batch's per-fp dup group). Everything
    // linear in batch + index size; nothing broadcast (both sides grow
    // with the corpus).
    Q("q111_incremental_dedup", (s, d) => {
      import s.implicits._
      val fpCol = md5(regexp_replace(lower(trim($"text")), "\\s+", " "))
      val docs = t(s, d, "documents").select($"doc_id", fpCol.as("fp"))
      val batch = docs.filter($"doc_id" % 5 === 0)
      val index = docs.filter($"doc_id" % 5 =!= 0)
        .select($"fp").distinct().withColumn("in_index", lit(true))
      batch.join(index, Seq("fp"), "left")
        .withColumn("dup_of_index", coalesce($"in_index", lit(false)))
        .withColumn("first_in_batch",
          $"doc_id" === min($"doc_id").over(Window.partitionBy($"fp")))
        .select($"doc_id", $"fp", $"dup_of_index", $"first_in_batch",
          (!$"dup_of_index" && $"first_in_batch").as("admitted"))
    }, Some("""
      WITH f AS (
        SELECT doc_id,
          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
      b AS (SELECT * FROM f WHERE doc_id % 5 = 0),
      i AS (SELECT DISTINCT fp FROM f WHERE doc_id % 5 <> 0),
      m AS (
        SELECT b.doc_id, b.fp,
          b.fp IN (SELECT fp FROM i) AS dup_of_index,
          b.doc_id = min(b.doc_id) OVER (PARTITION BY b.fp) AS first_in_batch
        FROM b)
      SELECT doc_id, fp, dup_of_index, first_in_batch,
        (NOT dup_of_index) AND first_in_batch AS admitted
      FROM m""")),

    // fuzzy (near-dup) benchmark decontamination: the leakage q54's
    // exact-shingle gate misses — a training doc that is a lightly
    // edited copy of an eval doc. Corpus docs within SimHash Hamming
    // distance <= 2 of ANY benchmark doc (benchmark = doc_id % 20 == 0,
    // the q54 convention) are flagged with their hit count and closest
    // distance. Candidates come from a CROSS-SET pigeonhole band join
    // (3 bands for h<=2): each side is banded row-locally and the match
    // is an equi-join on (band, bv) — linear in corpus size, no
    // benchmark broadcast required (though Catalyst may choose one when
    // the eval suite is small), no quadratic scan anywhere. The oracle
    // replays the signature bit-for-bit (positional-md5 hash family)
    // and brute-forces the tiny benchmark side.
    Q("q115_fuzzy_decontam", (s, d) => {
      import s.implicits._
      val tokRows = t(s, d, "documents")
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      val sigs = DedupOps
        .simhash32FromTokenRows(tokRows, "doc_id", "tok", "simhash")
      val bench = DedupOps.simhashBanded(
          sigs.filter($"doc_id" % 20 === 0), "doc_id", "simhash", maxHamming = 2)
        .select($"doc_id".as("bench_id"), $"simhash".as("sig_b"), $"band", $"bv")
      val corpus = DedupOps.simhashBanded(
          sigs.filter($"doc_id" % 20 =!= 0), "doc_id", "simhash", maxHamming = 2)
        .select($"doc_id", $"simhash".as("sig_c"), $"band", $"bv")
      corpus.join(bench, Seq("band", "bv"))
        .select($"doc_id", $"bench_id",
          expr("bit_count(sig_c ^ sig_b)").as("h"))
        .filter($"h" <= 2)
        .distinct()
        .groupBy($"doc_id")
        .agg(count(lit(1)).cast("long").as("n_bench_hits"),
          min($"h").cast("long").as("min_hamming"))
    }, Some(
      s"""WITH sh AS ($simhashDuckSql),
         |b AS (SELECT doc_id, simhash FROM sh WHERE doc_id % 20 = 0),
         |c AS (SELECT doc_id, simhash FROM sh WHERE doc_id % 20 <> 0),
         |m AS (
         |  SELECT c.doc_id, b.doc_id AS bid,
         |    bit_count(xor(c.simhash, b.simhash)) AS h
         |  FROM c JOIN b ON bit_count(xor(c.simhash, b.simhash)) <= 2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
         |  CAST(min(h) AS BIGINT) AS min_hamming
         |FROM m GROUP BY 1""".stripMargin)),

    // asymmetric containment (quote/subset) detection: the near-dup
    // case symmetric Jaccard misses — a short doc quoted wholesale
    // inside a much longer one has tiny Jaccard but containment ~1.
    // Planted wholesale quotes (docs with id % 10 == 0 append their
    // successor's full text — pair-specific content, so plant frequency
    // is scale-invariant) are recovered via the inverted shingle index:
    // candidate pairs share >= 5 distinct shingles whose document
    // frequency is df-capped (2..20, the q103 hot-key convention —
    // boilerplate shingles can't explode pair fan-out; under-counting
    // hot shingles only makes the gate conservative). Containment is
    // integer ppm against each side's FULL distinct-shingle size; the
    // >= 0.8 gate fires in either direction. One shingle self-join on a
    // df-bounded index + two size joins — linear at any corpus size.
    // Measured NON-wins kept out deliberately (round 11): hv32-hashing
    // the shingles (q154's trick) made this SLOWER (2.65 -> 2.85 s at
    // sf0.1; one md5 per corpus shingle outweighs the string-shuffle
    // savings — q154 wins only because its sort/array stages re-read
    // the keys many times), and persisting the distinct frame was
    // worse again (3.8 s: materialization cost > exchange reuse).
    Q("q116_quote_containment", (s, d) => {
      import s.implicits._
      val base = t(s, d, "documents").select($"doc_id", $"text")
      val donors = base.select(($"doc_id" - 1).as("doc_id"),
        $"text".as("donor"))
      val planted = base.join(donors, Seq("doc_id"), "left")
        .select($"doc_id",
          when($"doc_id" % 10 === 0 && $"donor".isNotNull,
            concat($"text", lit(" "), $"donor")).otherwise($"text").as("text"))
      val sr = TextOps.distinctShingleRows(planted, "doc_id", "text")
      // per-doc distinct-shingle count is a row-local fact (q31
      // convention, round-16 opt): size(array_distinct(grams)) per row
      // replaces an explode + agg evaluation of the shingle pipeline.
      // Zero-shingle docs gain a (doc, 0) row the agg form lacked —
      // unobservable, since sizes only ever inner-joins to pair docs
      // (a doc in a pair has >= 5 shared shingles).
      val sizes = planted.select($"doc_id",
        size(array_distinct(TextOps.shingles(TextOps.tokens($"text"))))
          .cast("long").as("sz"))
      // round-16 opt: pairs come from a per-shingle sorted doc list
      // (q103/q154's posting-explode convention), NOT a rare x rare
      // self-join — the old form evaluated the shingle pipeline ~5x
      // (24 parquet scans in the plan) and shuffled the full
      // (doc, shingle) string frame on BOTH join sides (20.3 MB shw).
      // The df cap filter still runs BEFORE the collect (df agg + join
      // back on the shingle key, the q103 buffer-bound discipline: a
      // boilerplate shingle at corpus scale must never build an
      // unbounded collect_list buffer), and the collect rides the
      // join's shingle partitioning — no extra exchange. Each unordered
      // pair emerges once per shared rare shingle, exactly the self-
      // join's (doc_a < doc_b) row set. Checkpoint 7 A/B'd the
      // single-pass BoundedCollect form (count + capped list in one
      // agg, no join-back): bytes fell 20.1 -> 16.3 MB but wall ROSE
      // 2.39 -> 3.45 s on the healthier window — the full corpus
      // shingle stream traded its codegen'd count HashAggregate for
      // per-row object aggregation. Kept out (measured-non-win rule).
      val dfs = sr.groupBy($"shingle").agg(count(lit(1)).as("sdf"))
      val rare = sr.join(dfs.filter($"sdf" >= 2 && $"sdf" <= 20), "shingle")
      val inter = PairOps.pairCounts(rare.groupBy($"shingle")
          .agg(sort_array(collect_list($"doc_id")).as("ds")),
          "ds", "doc_a", "doc_b", "inter")
        .filter($"inter" >= 5)
      inter
        .join(sizes.select($"doc_id".as("doc_a"), $"sz".as("sza")), "doc_a")
        .join(sizes.select($"doc_id".as("doc_b"), $"sz".as("szb")), "doc_b")
        .withColumn("cont_ab_ppm", expr("inter * 1000000 div sza"))
        .withColumn("cont_ba_ppm", expr("inter * 1000000 div szb"))
        .filter($"cont_ab_ppm" >= 800000 || $"cont_ba_ppm" >= 800000)
        .select($"doc_a", $"doc_b", $"inter".cast("long").as("inter"),
          $"cont_ab_ppm", $"cont_ba_ppm")
    }, Some("""
      WITH base AS (SELECT doc_id, text FROM documents),
      pl AS (
        SELECT b.doc_id,
          CASE WHEN b.doc_id % 10 = 0 AND d.donor IS NOT NULL
               THEN b.text || ' ' || d.donor ELSE b.text END AS text
        FROM base b
        LEFT JOIN (SELECT doc_id - 1 AS doc_id, text AS donor FROM base) d
          USING (doc_id)),
      toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
               FROM pl),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
             FROM toks),
      szs AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      dfs AS (SELECT shingle, count(*) AS sdf FROM sh GROUP BY 1),
      rare AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN dfs USING (shingle)
               WHERE sdf BETWEEN 2 AND 20),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT i.doc_a, i.doc_b, CAST(i.inter AS BIGINT) AS inter,
        CAST(i.inter * 1000000 // sa.sz AS BIGINT) AS cont_ab_ppm,
        CAST(i.inter * 1000000 // sb.sz AS BIGINT) AS cont_ba_ppm
      FROM inter i
      JOIN szs sa ON sa.doc_id = i.doc_a
      JOIN szs sb ON sb.doc_id = i.doc_b
      WHERE i.inter * 1000000 // sa.sz >= 800000
         OR i.inter * 1000000 // sb.sz >= 800000""")),

    // bag-of-words (order-insensitive) dedup: catches token-shuffled
    // copies that exact-text dedup (q32) misses — plagiarized/reordered
    // paragraphs hash differently but carry the identical token
    // multiset. Planted: docs with id % 25 == 0 become a token-REVERSED
    // copy of their successor (pair-specific content — plant frequency
    // is scale-invariant), so each plant groups with its successor
    // under the bag fingerprint while their exact fingerprints differ.
    // The fingerprint is row-local (sort_array over the token multiset
    // then md5 — both engines sort strings by binary collation), so the
    // whole query is one map-side-combined agg on the fp key; no joins,
    // no windows, linear at any corpus size.
    Q("q117_bow_dedup", (s, d) => {
      import s.implicits._
      val base = t(s, d, "documents").select($"doc_id", $"text")
      val donors = base.select(($"doc_id" - 1).as("doc_id"),
        $"text".as("donor"))
      val planted = base.join(donors, Seq("doc_id"), "left")
        .select($"doc_id",
          when($"doc_id" % 25 === 0 && $"donor".isNotNull,
            concat_ws(" ", reverse(TextOps.tokens($"donor"))))
            .otherwise($"text").as("text"))
      planted
        .select($"doc_id",
          md5(concat_ws(" ", sort_array(TextOps.tokens($"text")))).as("bow_fp"),
          md5($"text").as("exact_fp"))
        .groupBy($"bow_fp")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          countDistinct($"exact_fp").cast("long").as("n_exact_variants"),
          min($"doc_id").as("canonical_id"))
        .filter($"n_docs" >= 2)
    }, Some("""
      WITH base AS (SELECT doc_id, text FROM documents),
      pl AS (
        SELECT b.doc_id,
          CASE WHEN b.doc_id % 25 = 0 AND d.donor IS NOT NULL
               THEN array_to_string(
                      list_reverse(string_split_regex(trim(d.donor), '\s+')), ' ')
               ELSE b.text END AS text
        FROM base b
        LEFT JOIN (SELECT doc_id - 1 AS doc_id, text AS donor FROM base) d
          USING (doc_id)),
      f AS (
        SELECT doc_id,
          md5(array_to_string(list_sort(string_split_regex(trim(text), '\s+')), ' '))
            AS bow_fp,
          md5(text) AS exact_fp
        FROM pl)
      SELECT bow_fp, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(DISTINCT exact_fp) AS BIGINT) AS n_exact_variants,
        min(doc_id) AS canonical_id
      FROM f GROUP BY 1 HAVING count(*) >= 2""")),

    // prefix-filtered set-similarity join (the PPJoin family, the
    // third candidate-generation scheme after banding (q34/q36) and
    // sorted neighborhood (q101)): exact shingle-set Jaccard >= 0.6
    // through DedupOps.jaccardPairs, whose candidates come ONLY from
    // shared PREFIX shingles (pigeonhole-complete; see its doc). A
    // df <= 20 cap on join shingles (the q103/q116 guard) bounds every
    // posting's fan-out at 190 pairs; pairs reachable only through
    // boilerplate shingles are dropped (documented approximation —
    // those pairs are the near-dup CLUSTERS q53 already resolves; the
    // spec proves no-false-negatives vs brute force under the cap at
    // sf0.001). Output is the <= 5-row Jaccard-decile report, with
    // the pruned candidates counted in bucket -1.
    Q("q154_setsim_join", (s, d) => {
      import s.implicits._
      // shingles collapse to 32-bit hv hashes up front (q36's oracle-
      // replayable hv32; ~0.1 expected collisions per 10^5 shingles —
      // the standard MinHash-family approximation, identical in both
      // engines) so every downstream stage — df agg, doc-keyed
      // collect, sort, posting explode, intersection — runs on longs,
      // not 30-char strings (string variant measured 3x slower).
      // df counts every document, as the oracle does; the sz >= 5 rule
      // filters the verified pairs.
      val sets = t(s, d, "documents")
        .select($"doc_id", array_distinct(transform(
          TextOps.shingles(TextOps.tokens($"text")),
          g => DedupOps.hv32Col(g))).as("s"))
      DedupOps.jaccardPairs(sets, "doc_id", "s", 0.6, dfCap = Some(20L))
        .filter($"size_a" >= 5 && $"size_b" >= 5)
        .withColumn("jp", expr("(inter * 1000) div (size_a + size_b - inter)"))
        // matched pairs land in their jaccard decile; pruned candidates
        // (verified but below tau) land in bucket -1, so the report
        // carries the selectivity of the filter in the same frame —
        // the candidates have ONE consumer (no second count pipeline)
        .groupBy(when($"jp" >= 600, expr("jp div 100")).otherwise(-1L)
          .as("bucket"))
        .agg(count(lit(1)).as("n_pairs"), min($"jp").as("min_jp"),
          max($"jp").as("max_jp"))
    }, Some("""
      WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                  FROM documents),
      shs AS (SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 1)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
             FROM tk),
      sh AS (SELECT DISTINCT doc_id, (__HV__) AS tok FROM shs),
      df AS (SELECT tok, count(*) AS df FROM sh GROUP BY 1),
      ord AS (SELECT sh.doc_id, list(sh.tok ORDER BY df.df, sh.tok) AS lst,
                list(df.df ORDER BY df.df, sh.tok) AS dfs,
                count(*) AS sz
              FROM sh JOIN df USING (tok)
              GROUP BY 1 HAVING count(*) >= 5),
      pf AS (SELECT doc_id, unnest(list_slice(lst, 1,
                 CAST(sz - (6 * sz + 9) // 10 + 1 AS BIGINT))) AS tok,
               unnest(list_slice(dfs, 1,
                 CAST(sz - (6 * sz + 9) // 10 + 1 AS BIGINT))) AS tdf
             FROM ord),
      pfc AS (SELECT doc_id, tok FROM pf WHERE tdf <= 20),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
               FROM pfc a JOIN pfc b
                 ON a.tok = b.tok AND a.doc_id < b.doc_id),
      ver AS (SELECT CAST(len(list_intersect(x.lst, y.lst)) AS BIGINT)
                  AS inter, x.sz AS sza, y.sz AS szb
              FROM cand JOIN ord x ON x.doc_id = cand.da
              JOIN ord y ON y.doc_id = cand.db),
      m AS (SELECT inter * 1000 // (sza + szb - inter) AS jp FROM ver)
      SELECT CAST(CASE WHEN jp >= 600 THEN jp // 100 ELSE -1 END AS BIGINT)
          AS bucket,
        CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(min(jp) AS BIGINT) AS min_jp, CAST(max(jp) AS BIGINT) AS max_jp
      FROM m GROUP BY 1""".replace("__HV__", hvDuckOf("shingle"))))
      ,

    // Fuzzy entity resolution with prefix blocking + edit-distance
    // verify (the record-linkage shape q101's sorted neighborhood
    // approximates with sort keys): each doc's "title" is its 4-token
    // lead; candidates come ONLY from blocks sharing the first TWO
    // tokens and the title token count (hv-bucketed), and pairs are
    // verified with levenshtein <= 5. Block membership is capped at 50
    // (the q103 df-cap pattern, replayed identically by the oracle):
    // a hot prefix block degrades to no-candidates rather than a
    // quadratic task — the documented trade of every blocking scheme;
    // production would add a third blocking key, not a bigger cap.
    // Scale shape: titles/blocks row-local; ONE block-keyed self-join
    // with <= C(50,2) pairs per block; levenshtein is per-pair
    // row-local (Java == DuckDB definition); everything map-side
    // combined before the join.
    Q("q177_fuzzy_match", (s, d) => {
      import s.implicits._
      val titles = t(s, d, "documents")
        .select($"doc_id",
          array_join(slice(TextOps.tokens($"text"), 1, 4), " ").as("title"),
          array_join(slice(TextOps.tokens($"text"), 1, 2), " ").as("pfx"),
          least(size(TextOps.tokens($"text")), lit(4)).as("nt"))
        .withColumn("__hx", md5($"pfx"))
        .withColumn("bk",
          concat(expr(s"(${DedupOps.hv32FromHexSql("__hx")}) % 4096"),
            lit(":"), $"nt"))
        .persist() // feeds the block-size gate and the in-block join
      val sized = titles.groupBy($"bk").agg(count(lit(1)).as("bsz"))
        .filter($"bsz".between(2, 50))
      val inBlock = titles.join(sized, "bk")
        .select($"bk", $"doc_id", $"title")
      val a = inBlock.select($"bk", $"doc_id".as("da"), $"title".as("ta"))
      val b = inBlock.select($"bk", $"doc_id".as("db"), $"title".as("tb"))
      a.join(b, "bk").filter($"da" < $"db")
        .withColumn("dist", levenshtein($"ta", $"tb"))
        .filter($"dist" <= 5)
        .select($"da", $"db", $"dist".cast("long").as("dist"))
    }, Some(s"""
      WITH ti AS (
        SELECT doc_id,
          array_to_string(string_split_regex(trim(text), '\\s+')[1:4], ' ')
            AS title,
          array_to_string(string_split_regex(trim(text), '\\s+')[1:2], ' ')
            AS pfx,
          least(len(string_split_regex(trim(text), '\\s+')), 4) AS nt
        FROM documents),
      bk AS (SELECT doc_id, title,
               CAST((${DedupQueries.hvDuckOf("pfx")}) % 4096 AS VARCHAR)
                 || ':' || CAST(nt AS VARCHAR) AS bk
             FROM ti),
      ok AS (SELECT bk FROM bk GROUP BY 1
             HAVING count(*) BETWEEN 2 AND 50),
      ib AS (SELECT bk.bk, bk.doc_id, bk.title
             FROM bk JOIN ok ON ok.bk = bk.bk)
      SELECT a.doc_id AS da, b.doc_id AS db,
        CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
      FROM ib a JOIN ib b ON a.bk = b.bk AND a.doc_id < b.doc_id
      WHERE levenshtein(a.title, b.title) <= 5""")),

    // Blocking-efficiency report (the meta-audit behind every
    // candidate-generation scheme in this catalog): for three blockers
    // — lead-10-token fingerprint (q134), SimHash top-16-bit band
    // (q34), and lang x length-bucket (coarse) — the reduction ratio
    // and block-size skew, computed ARITHMETICALLY from block sizes.
    // The 100 TB point: candidate pairs are never materialized and the
    // ratio is expressed in per-record units — cand_per_rec =
    // sum(b*(b-1)) div n vs (n-1) — so nothing ever forms n^2 (a
    // C(n,2)-denominator formulation overflows int64 past ~4e9 docs).
    // Scale shape per blocker: one map-side-combined key agg to block
    // sizes, one 1-row rollup; the SimHash signature is the shared
    // q34 computation (32 conditional bit sums, one doc-keyed shuffle).
    Q("q204_blocking_efficiency", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      def report(name: String, keyed: org.apache.spark.sql.DataFrame) =
        keyed.groupBy($"key").agg(count(lit(1)).as("b"))
          .agg(lit(name).as("blocker"),
            count(lit(1)).as("n_blocks"), max($"b").as("max_block"),
            sum($"b").as("n"), sum($"b" * ($"b" - 1)).as("cand2"))
          .select($"blocker", $"n_blocks", $"max_block",
            expr("cand2 div n").as("cand_per_rec"),
            // n <= 1 means zero possible pairs: reduction is total by
            // definition (guards the /(n-1) from a 1-document corpus)
            expr("""CASE WHEN n <= 1 THEN CAST(1000000 AS BIGINT)
              ELSE 1000000 - ((cand2 div n) * 1000000) div (n - 1) END""")
              .as("rr_ppm"))
      val lead = docs.select(
        md5(array_join(slice(TextOps.tokens($"text"), 1, 10), " "))
          .as("key"))
      val band = DedupOps.simhash32FromTokenRows(
          docs.select($"doc_id", explode(TextOps.tokens($"text")).as("tok")),
          "doc_id", "tok", "simhash")
        .select(expr("simhash div 65536").as("key"))
      val coarse = docs.select(
        concat($"lang", lit(":"), expr("n_chars div 64").cast("string"))
          .as("key"))
      report("lead10", lead)
        .union(report("simband16", band))
        .union(report("coarse", coarse))
    }, Some(s"""
      WITH lead AS (
        SELECT md5(array_to_string(
          list_slice(string_split_regex(trim(text), '\\s+'), 1, 10), ' '))
          AS key
        FROM documents),
      sim AS ($simhashDuckSql),
      band AS (SELECT simhash // 65536 AS key FROM sim),
      coarse AS (
        SELECT lang || ':' || CAST(n_chars // 64 AS VARCHAR) AS key
        FROM documents),
      r AS (
        SELECT 'lead10' AS blocker, b FROM (
          SELECT count(*) AS b FROM lead GROUP BY key)
        UNION ALL
        SELECT 'simband16', b FROM (
          SELECT count(*) AS b FROM band GROUP BY key)
        UNION ALL
        SELECT 'coarse', b FROM (
          SELECT count(*) AS b FROM coarse GROUP BY key))
      SELECT blocker, CAST(count(*) AS BIGINT) AS n_blocks,
        CAST(max(b) AS BIGINT) AS max_block,
        CAST(sum(b * (b - 1)) // sum(b) AS BIGINT) AS cand_per_rec,
        CAST(CASE WHEN sum(b) <= 1 THEN 1000000
          ELSE 1000000 - ((sum(b * (b - 1)) // sum(b)) * 1000000)
            // (sum(b) - 1) END AS BIGINT) AS rr_ppm
      FROM r GROUP BY 1""")),

    // Dedup-discounted effective token mass (the number that prices a
    // source's REAL contribution: raw token counts double-count every
    // exact duplicate, so mixture weights computed from them overtrain
    // on boilerplate-heavy sources). Per source: raw docs/tokens vs
    // the tokens attributed ONCE per fingerprint cluster to the
    // keeper's (min doc_id) source, and the resulting discount ppm.
    // The fingerprint is the lead-10-token key (q134's convention —
    // the full-text fp finds zero clusters at sf0.01, so the gate
    // would never exercise the discount path; lead-dedup is also the
    // CCNet-style production pre-pass this report prices).
    // Scale shape: one (fp) map-side-combined agg collapses the corpus
    // to clusters; the keeper->source attribution is ONE doc-keyed
    // equi-join (neither side broadcast — both corpus-growing); both
    // rollups registry-sized; full-outer on the source registry.
    Q("q205_effective_tokens", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
        .select($"doc_id", $"source",
          md5(array_join(slice(TextOps.tokens($"text"), 1, 10), " "))
            .as("fp"),
          TextOps.tokenCount($"text").cast("long").as("tc"))
      val raw = docs.groupBy($"source")
        .agg(count(lit(1)).as("raw_docs"), sum($"tc").as("raw_tokens"))
      // cluster members differ in tc under lead-fp, so the keeper's
      // OWN token count comes from the join, not a cluster agg
      val clusters = docs.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      val eff = clusters
        .join(docs.select($"doc_id", $"source", $"tc"), "doc_id")
        .groupBy($"source")
        .agg(count(lit(1)).as("eff_docs"), sum($"tc").as("eff_tokens"))
      raw.join(eff, Seq("source"), "left_outer")
        .select($"source", $"raw_docs", $"raw_tokens",
          coalesce($"eff_docs", lit(0L)).as("eff_docs"),
          coalesce($"eff_tokens", lit(0L)).as("eff_tokens"),
          expr("""((raw_tokens - coalesce(eff_tokens, 0L)) * 1000000)
            div raw_tokens""").as("discount_ppm"))
    }, Some("""
      WITH docs AS (
        SELECT doc_id, source,
          md5(array_to_string(
            list_slice(string_split_regex(trim(text), '\s+'), 1, 10), ' '))
            AS fp,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tc
        FROM documents),
      raw AS (SELECT source, count(*) AS raw_docs, sum(tc) AS raw_tokens
              FROM docs GROUP BY 1),
      cl AS (SELECT fp, min(doc_id) AS doc_id FROM docs GROUP BY 1),
      eff AS (SELECT d.source, count(*) AS eff_docs, sum(d.tc)
                AS eff_tokens
              FROM cl JOIN docs d ON d.doc_id = cl.doc_id GROUP BY 1)
      SELECT raw.source, CAST(raw_docs AS BIGINT) AS raw_docs,
        CAST(raw_tokens AS BIGINT) AS raw_tokens,
        CAST(coalesce(eff_docs, 0) AS BIGINT) AS eff_docs,
        CAST(coalesce(eff_tokens, 0) AS BIGINT) AS eff_tokens,
        CAST(((raw_tokens - coalesce(eff_tokens, 0)) * 1000000)
          // raw_tokens AS BIGINT) AS discount_ppm
      FROM raw LEFT JOIN eff ON eff.source = raw.source""")),

    // Cluster-cohesion audit (the false-merge monitor over q53's
    // transitive near-dup clusters): banding + connected components
    // merges by CHAINS, so a cluster can hold pairs farther apart than
    // any single edge (a-b=1, b-c=1 allows a-c=2). Per cluster-size
    // band: how many sampled within-cluster pairs exceed the edge
    // threshold — the number that says whether transitive closure is
    // over-merging. Scale shape: clusters ride the shared O(log n)
    // large-star/small-star CC; per cluster only the FIRST 10 members
    // (doc_id order, a cluster-partitioned rank window lowered to
    // TopKPerKeyExec) form pairs — <= 45 per cluster regardless of
    // cluster size, the q134 sorted-array explode; hamming from one
    // sig equi-join per side; the rollup is <= size-band rows.
    Q("q209_cluster_cohesion", (s, d) => {
      import s.implicits._
      graft.plans.GraftPlanner.install(s)
      val docs = t(s, d, "documents")
      val tokRows = docs
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      val sigs = DedupOps
        .simhash32FromTokenRows(tokRows, "doc_id", "tok", "simhash")
        .select($"doc_id", $"simhash").persist()
      val edges = DedupOps
        .simhashPairsBanded(sigs, "doc_id", "simhash", maxHamming = 1)
        .select($"doc_a".as("a"), $"doc_b".as("b"))
      val cl = CorpusOps.componentLabels(docs.select($"doc_id"), "doc_id",
        edges).select($"doc_id", $"cluster_id")
      val wC = Window.partitionBy($"cluster_id").orderBy($"doc_id".asc)
      val members = cl
        .withColumn("rn", row_number().over(wC)).filter($"rn" <= 10)
      val pairs = members.groupBy($"cluster_id")
        .agg(sort_array(collect_list($"doc_id")).as("ms"),
          count(lit(1)).as("sz"))
        .filter($"sz" >= 2)
        .select($"cluster_id", $"sz",
          explode(PairOps.pairs($"ms", "da", "db")).as("p"))
        .select($"cluster_id", $"sz", $"p.da".as("da"), $"p.db".as("db"))
      pairs
        .join(sigs.select($"doc_id".as("da"), $"simhash".as("sa")), "da")
        .join(sigs.select($"doc_id".as("db"), $"simhash".as("sb")), "db")
        .select($"sz", expr("bit_count(sa ^ sb)").cast("long").as("h"))
        .groupBy($"sz".as("cluster_size"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("(1000 * sum(h)) div count(1)").as("mean_hamming_milli"),
          sum(when($"h" > 1, 1L).otherwise(0L)).as("n_over_edge"),
          expr("""(sum(CASE WHEN h > 1 THEN 1 ELSE 0 END) * 1000000)
            div count(1)""").as("over_edge_ppm"))
    }, Some(
      s"""WITH RECURSIVE sh AS ($simhashDuckSql),
         |prs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM prs
         |      UNION ALL SELECT doc_b, doc_a FROM prs),
         |r(id, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, r.m FROM r JOIN e ON e.a = r.id),
         |cl AS (SELECT id AS doc_id, min(m) AS cluster_id
         |       FROM r GROUP BY id),
         |mem AS (
         |  SELECT doc_id, cluster_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY doc_id ASC) AS rn FROM cl)
         |  WHERE rn <= 10),
         |szs AS (SELECT cluster_id, count(*) AS sz FROM mem GROUP BY 1),
         |pp AS (
         |  SELECT szs.sz, a.doc_id AS da, b.doc_id AS db
         |  FROM mem a JOIN mem b ON b.cluster_id = a.cluster_id
         |    AND b.doc_id > a.doc_id
         |  JOIN szs ON szs.cluster_id = a.cluster_id
         |  WHERE szs.sz >= 2),
         |hh AS (
         |  SELECT pp.sz,
         |    bit_count(xor(x.simhash, y.simhash)) AS h
         |  FROM pp JOIN sh x ON x.doc_id = pp.da
         |  JOIN sh y ON y.doc_id = pp.db)
         |SELECT CAST(sz AS BIGINT) AS cluster_size,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST((1000 * sum(h)) // count(*) AS BIGINT)
         |    AS mean_hamming_milli,
         |  CAST(sum(CASE WHEN h > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_over_edge,
         |  CAST((sum(CASE WHEN h > 1 THEN 1 ELSE 0 END) * 1000000)
         |    // count(*) AS BIGINT) AS over_edge_ppm
         |FROM hh GROUP BY 1""".stripMargin)),

    // Dedup threshold-sensitivity sweep (the curve a curation owner
    // reads BEFORE committing to a hamming threshold: pairs and docs
    // touched at each distance 0..3 — too tight leaves dupes, too
    // loose merges distinct content). Banding with 4 bands of 8 bits
    // guarantees every pair at hamming <= 3 shares a clean band
    // (pigeonhole), so the sweep is exact without an all-pairs join.
    // Cumulative counts: a pair at hamming h matches every threshold
    // >= h, so thresholds accumulate down the 4-row grid (row-local
    // sums over <= 4 rows — no corpus window). Scale shape: one
    // banded equi-join (the q35 shape) + one 4-row rollup; the doc
    // count per threshold is a distinct over the pair endpoints,
    // bounded by the near-dup population.
    Q("q217_threshold_sweep", (s, d) => {
      import s.implicits._
      val tokRows = t(s, d, "documents")
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      // 60-bit signature + 15-bit bands (round 13, with q296/q344):
      // the 32-bit form's 8-bit band domain saturates with corpus size
      // — see DedupOps.simhash60FromTokenRows.
      val sigs = DedupOps
        .simhash60FromTokenRows(tokRows, "doc_id", "tok", "simhash")
        .select($"doc_id", $"simhash")
      val pairs = DedupOps
        .simhashPairsBanded(sigs, "doc_id", "simhash", maxHamming = 3,
          bits = 60)
        .persist()
      // ONE pass per report column instead of a job per threshold:
      // pairs collapse to a <= 4-row hamming histogram; docs collapse
      // to a <= 4-row min-hamming histogram (a doc is "touched" at
      // threshold t iff its closest neighbor is within t); both join
      // the literal threshold frame on h <= t (tiny local frames).
      val ph = pairs.groupBy($"hamming").agg(count(lit(1)).as("np"))
      val dm = pairs.select($"doc_a".as("dd"), $"hamming")
        .union(pairs.select($"doc_b".as("dd"), $"hamming"))
        .groupBy($"dd").agg(min($"hamming").as("mh"))
        .groupBy($"mh").agg(count(lit(1)).as("ndoc"))
      val th = s.createDataFrame(Seq(0L, 1L, 2L, 3L).map(Tuple1(_)))
        .toDF("threshold")
      th.join(ph, $"hamming" <= $"threshold", "left_outer")
        .groupBy($"threshold")
        .agg(coalesce(sum($"np"), lit(0L)).as("n_pairs"))
        .join(th.join(dm, $"mh" <= $"threshold", "left_outer")
          .groupBy($"threshold")
          .agg(coalesce(sum($"ndoc"), lit(0L)).as("n_docs_touched")),
          "threshold")
    }, Some(
      s"""WITH sh AS ($simhash60DuckSql),
         |p AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db,
         |    bit_count(xor(a.simhash, b.simhash)) AS h
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |t(threshold) AS (VALUES (0), (1), (2), (3))
         |SELECT CAST(t.threshold AS BIGINT) AS threshold,
         |  CAST(count(CASE WHEN p.h <= t.threshold THEN 1 END) AS BIGINT)
         |    AS n_pairs,
         |  CAST((SELECT count(*) FROM (
         |     SELECT DISTINCT u FROM (
         |       SELECT da AS u FROM p WHERE h <= t.threshold
         |       UNION ALL SELECT db FROM p WHERE h <= t.threshold)))
         |    AS BIGINT) AS n_docs_touched
         |FROM t LEFT JOIN p ON true
         |GROUP BY t.threshold""".stripMargin)),

    // MinHash estimator calibration audit (the error curve behind
    // every banding threshold choice): for q36's banded candidate
    // pairs, compare the SIGNATURE-estimated Jaccard (matching
    // components / 16) against the EXACT shingle Jaccard, grouped by
    // match count — per estimator level: pair count, mean true
    // Jaccard, and mean absolute estimation error (milli). This is
    // the empirical version of the 1-(1-j^r)^b S-curve a dedup
    // operator tunes r, b and the verify threshold against; a level
    // whose mean error drifts says the shingle distribution violates
    // the uniform-hash assumption. All integer milli (div truncation
    // identical in both engines). Scale shape: candidates come from
    // the capped band buckets (linear, never all-pairs); the exact
    // side is the q36 shingle equi-join restricted to candidates;
    // signature compare is row-local zip_with on 16-long arrays; the
    // rollup is <= 17 rows. The distinct shingle stream is persisted
    // (4 consumers — q36's pattern).
    Q("q222_minhash_calibration", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val sr = TextOps.distinctShingleRows(docs, "doc_id", "text")
        .persist()
      val sigs = DedupOps.minhashSignatures(sr, "doc_id", "shingle", k = 16)
      val bandTable = DedupOps.lshBands(sigs, "doc_id", "sig",
        bands = 4, rows = 4)
      val cands = DedupOps.lshCandidates(bandTable, "doc_id")
      val sizes = sr.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
      val inter = cands
        .join(sr.select($"doc_id".as("doc_a"), $"shingle"), "doc_a")
        .join(sr.select($"doc_id".as("doc_b"), $"shingle"),
          Seq("doc_b", "shingle"))
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter"))
      cands
        .join(sigs.select($"doc_id".as("doc_a"), $"sig".as("sa")), "doc_a")
        .join(sigs.select($"doc_id".as("doc_b"), $"sig".as("sb")), "doc_b")
        // hash-collision candidates can share a band yet no shingle:
        // keep them (left join) — they are exactly the estimator's
        // false positives this audit prices
        .join(inter, Seq("doc_a", "doc_b"), "left_outer")
        .join(sizes.select($"doc_id".as("doc_a"), $"sz".as("sza")), "doc_a")
        .join(sizes.select($"doc_id".as("doc_b"), $"sz".as("szb")), "doc_b")
        .select(
          expr("""CAST(size(filter(zip_with(sa, sb, (x, y) -> x = y),
            b -> b)) AS BIGINT)""").as("m"),
          coalesce($"inter", lit(0L)).as("inter"), $"sza", $"szb")
        .select($"m", expr("(m * 1000) div 16").as("est_milli"),
          expr("(inter * 1000) div (sza + szb - inter)").as("ex_milli"))
        .groupBy($"m".as("n_match"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(ex_milli) div count(1)").as("mean_jaccard_milli"),
          expr("sum(abs(est_milli - ex_milli)) div count(1)")
            .as("mean_abs_err_milli"))
    }, Some(
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
         |  FROM toks),
         |hv AS (SELECT doc_id, (${hvDuckOf("shingle")}) % 2147483647 AS hv
         |       FROM sh),
         |mh AS (
         |  SELECT doc_id, i,
         |    min((hv * ((i * 2654435761) % 2147483646 + 1)
         |         + (i * 40503 + 17) % 2147483647) % 2147483647) AS h
         |  FROM hv CROSS JOIN (SELECT unnest(range(0, 16)) AS i) ii
         |  GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, CAST(i // 4 AS INT) AS band_id,
         |         string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS bk
         |  FROM mh GROUP BY doc_id, i // 4),
         |bsz AS (SELECT band_id, bk, count(*) AS c FROM bands GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x
         |  JOIN bands y ON x.band_id = y.band_id AND x.bk = y.bk
         |              AND x.doc_id < y.doc_id
         |  JOIN bsz s ON s.band_id = x.band_id AND s.bk = x.bk
         |  WHERE s.c BETWEEN 2 AND 1000),
         |szs AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.doc_a
         |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |  GROUP BY c.doc_a, c.doc_b),
         |est AS (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST(sum(CASE WHEN x.h = y.h THEN 1 ELSE 0 END) AS BIGINT) AS m
         |  FROM cand c
         |  JOIN mh x ON x.doc_id = c.doc_a
         |  JOIN mh y ON y.doc_id = c.doc_b AND y.i = x.i
         |  GROUP BY 1, 2),
         |p AS (
         |  SELECT e.m, (e.m * 1000) // 16 AS est_milli,
         |    (coalesce(i.inter, 0) * 1000)
         |      // (sa.sz + sb.sz - coalesce(i.inter, 0)) AS ex_milli
         |  FROM est e
         |  LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
         |  JOIN szs sa ON sa.doc_id = e.doc_a
         |  JOIN szs sb ON sb.doc_id = e.doc_b)
         |SELECT m AS n_match, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(ex_milli) // count(*) AS BIGINT) AS mean_jaccard_milli,
         |  CAST(sum(abs(est_milli - ex_milli)) // count(*) AS BIGINT)
         |    AS mean_abs_err_milli
         |FROM p GROUP BY 1""".stripMargin)),

    // Leave-one-source-out dedup valuation (content-level data
    // valuation: which source, if DROPPED, removes the most duplicate
    // mass?). q214 prices an FK-cascade erasure; this prices content
    // redundancy: per source s, corpus duplicate count without s
    // (D_s = Σ_fp max(c - c_s - 1, 0) over lead-fp clusters) vs the
    // full-corpus D — dups_removed = D - D_s is s's marginal
    // redundancy contribution, the closed-form LOO a mixture owner
    // reads before paying for more of a source. Closed form because
    // dup count is fingerprint-additive — no per-source re-dedup jobs.
    // Scale shape: one (fp, source) map-side-combined agg, one
    // fp-keyed join to per-fp totals (both corpus-growing, unhinted),
    // one registry rollup; the 1-row corpus D broadcast.
    Q("q226_loo_dedup_value", (s, d) => {
      import s.implicits._
      val fps = t(s, d, "documents")
        .select($"source",
          md5(array_join(slice(TextOps.tokens($"text"), 1, 10), " "))
            .as("fp"))
      val perSrc = fps.groupBy($"fp", $"source").agg(count(lit(1)).as("cs"))
      val perFp = perSrc.groupBy($"fp").agg(sum($"cs").as("c"))
      val dTotal = perFp
        .agg(sum($"c" - 1).as("d_corpus"), sum($"c").as("n_corpus"))
      perSrc.join(perFp, "fp")
        .groupBy($"source")
        .agg(sum($"cs").as("n_docs"),
          // dups lost in s's clusters when s is dropped:
          // (c - 1) - max(c - cs - 1, 0)
          sum(($"c" - 1) - greatest($"c" - $"cs" - 1, lit(0L)))
            .as("dups_removed"))
        .crossJoin(broadcast(dTotal))
        .select($"source", $"n_docs", $"dups_removed",
          expr("(dups_removed * 1000) div n_docs").as("removed_per_kdoc"),
          expr("""CASE WHEN n_corpus - n_docs = 0 THEN CAST(0 AS BIGINT)
            ELSE ((d_corpus - dups_removed) * 1000000)
              div (n_corpus - n_docs) END""").as("dup_ppm_after"))
    }, Some("""
      WITH f AS (
        SELECT source,
          md5(array_to_string(
            list_slice(string_split_regex(trim(text), '\s+'), 1, 10), ' '))
            AS fp
        FROM documents),
      ps AS (SELECT fp, source, count(*) AS cs FROM f GROUP BY 1, 2),
      pf AS (SELECT fp, sum(cs) AS c FROM ps GROUP BY 1),
      tot AS (SELECT sum(c - 1) AS d_corpus, sum(c) AS n_corpus FROM pf),
      g AS (
        SELECT ps.source, sum(ps.cs) AS n_docs,
          sum((pf.c - 1) - greatest(pf.c - ps.cs - 1, 0)) AS dups_removed
        FROM ps JOIN pf USING (fp) GROUP BY 1)
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(dups_removed AS BIGINT) AS dups_removed,
        CAST((dups_removed * 1000) // n_docs AS BIGINT) AS removed_per_kdoc,
        CAST(CASE WHEN tot.n_corpus - n_docs = 0 THEN 0
          ELSE ((tot.d_corpus - dups_removed) * 1000000)
            // (tot.n_corpus - n_docs) END AS BIGINT) AS dup_ppm_after
      FROM g CROSS JOIN tot""")),

    // Prefix-truncation dedup (the crawl artifact exact-dedup misses:
    // one doc is a TRUNCATED copy of another — same lead, shorter
    // body — so full-text fingerprints differ and q32 keeps both).
    // Candidates block on the lead-10-token fingerprint (a ≥10-token
    // truncation shares it BY CONSTRUCTION — the stated recall
    // boundary: shorter docs need ≥10 tokens; capped buckets bound
    // fan-out); verify is the exact byte-prefix test with STRICT
    // length inequality (equal-length exact dups stay q32's). Scale
    // shape: one fp agg + fp-keyed self-join on capped buckets; the
    // prefix compare is row-local on the paired texts; output pairs
    // ∝ real truncations.
    Q("q233_prefix_truncation", (s, d) => {
      import s.implicits._
      val f = t(s, d, "documents")
        .select($"doc_id", $"text", length($"text").cast("long").as("len"),
          md5(array_join(slice(TextOps.tokens($"text"), 1, 10), " "))
            .as("fp"))
      val sz = f.groupBy($"fp").agg(count(lit(1)).as("c"))
        .filter($"c".between(2, 50))
      val blocked = f.join(sz.select($"fp"), "fp").persist()
      blocked.select($"fp", $"doc_id".as("short_id"),
          $"text".as("ts"), $"len".as("short_len"))
        .join(blocked.select($"fp", $"doc_id".as("long_id"),
          $"text".as("tl"), $"len".as("long_len")), "fp")
        .filter($"short_len" < $"long_len" &&
          expr("substring(tl, 1, short_len)") === $"ts")
        .select($"short_id", $"long_id", $"short_len", $"long_len",
          expr("(short_len * 1000000) div long_len").as("trunc_ratio_ppm"))
    }, Some("""
      WITH f AS (
        SELECT doc_id, text, length(text) AS len,
          md5(array_to_string(
            list_slice(string_split_regex(trim(text), '\s+'), 1, 10), ' '))
            AS fp
        FROM documents),
      sz AS (SELECT fp, count(*) AS c FROM f GROUP BY 1
             HAVING count(*) BETWEEN 2 AND 50),
      b AS (SELECT f.* FROM f JOIN sz USING (fp))
      SELECT a.doc_id AS short_id, l.doc_id AS long_id,
        CAST(a.len AS BIGINT) AS short_len,
        CAST(l.len AS BIGINT) AS long_len,
        CAST((a.len * 1000000) // l.len AS BIGINT) AS trunc_ratio_ppm
      FROM b a JOIN b l ON l.fp = a.fp AND a.len < l.len
        AND substr(l.text, 1, CAST(a.len AS INT)) = a.text""")),

    // Blocking pair-completeness (the ER-evaluation RECALL companion
    // to q204's reduction ratio): ground truth = every pair with
    // exact shingle Jaccard >= 0.5 (q33's exact pair set); candidates
    // = the production MinHash-LSH band pairs (q36's pipeline, before
    // verification). Pair completeness = recall of true pairs that
    // co-occur in >= 1 band bucket, pair quality = precision of the
    // candidate set, plus their harmonic F — the three numbers that
    // decide whether 4x4 banding is the right operating point before
    // a lake-scale dedup run. Bench-excluded like q33, whose exact
    // pair set is the TRUTH side. Output is one audit row.
    Q("q250_pair_completeness", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val sr = TextOps.shingleRows(docs, "doc_id", "text")
        .select($"doc_id", $"shingle").distinct()
      val sigs = DedupOps.minhashSignatures(sr, "doc_id", "shingle", k = 16)
      val bt = DedupOps.lshBands(sigs, "doc_id", "sig", bands = 4, rows = 4)
      val cands = DedupOps.lshCandidates(bt, "doc_id").withColumn("c", lit(1))
      val truth = shingleJaccardPairs(docs)
        .select($"doc_a", $"doc_b", lit(1).as("t"))
      // one full outer join counts all three sets in one aggregate: a
      // pair is true (t set), a candidate (c set) or a hit (both)
      truth.join(cands, Seq("doc_a", "doc_b"), "full_outer")
        .agg(count($"t").as("n_true"), count($"c").as("n_cand"),
          count(when($"t".isNotNull && $"c".isNotNull, 1)).as("n_hit"))
        .withColumn("pc_ppm",
          expr("(n_hit * 1000000) div greatest(n_true, 1)"))
        .withColumn("pq_ppm",
          expr("(n_hit * 1000000) div greatest(n_cand, 1)"))
        .select($"n_true", $"n_cand", $"n_hit", $"pc_ppm", $"pq_ppm",
          expr("""CASE WHEN pc_ppm + pq_ppm = 0 THEN CAST(0 AS BIGINT)
            ELSE (2 * pc_ppm * pq_ppm) div (pc_ppm + pq_ppm) END""")
            .as("f1_ppm"))
    }, Some(
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
         |  FROM toks),
         |hv AS (SELECT doc_id, (${hvDuckOf("shingle")}) % 2147483647 AS hv
         |       FROM sh),
         |mh AS (
         |  SELECT doc_id, i,
         |    min((hv * ((i * 2654435761) % 2147483646 + 1)
         |         + (i * 40503 + 17) % 2147483647) % 2147483647) AS h
         |  FROM hv CROSS JOIN (SELECT unnest(range(0, 16)) AS i) ii
         |  GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, CAST(i // 4 AS INT) AS band_id,
         |         string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS bk
         |  FROM mh GROUP BY doc_id, i // 4),
         |bsz AS (SELECT band_id, bk, count(*) AS c FROM bands GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x
         |  JOIN bands y ON x.band_id = y.band_id AND x.bk = y.bk
         |              AND x.doc_id < y.doc_id
         |  JOIN bsz s ON s.band_id = x.band_id AND s.bk = x.bk
         |  WHERE s.c BETWEEN 2 AND 1000),
         |dsets AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
         |  FROM toks),
         |truth AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM dsets a JOIN dsets b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.s, b.s)) * 1.0 /
         |        len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         |nt AS (SELECT count(*) AS n_true FROM truth),
         |nc AS (SELECT count(*) AS n_cand FROM cand),
         |nh AS (SELECT count(*) AS n_hit FROM truth t
         |       WHERE EXISTS (SELECT 1 FROM cand c
         |         WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)),
         |r AS (
         |  SELECT n_true, n_cand, n_hit,
         |    (n_hit * 1000000) // greatest(n_true, 1) AS pc_ppm,
         |    (n_hit * 1000000) // greatest(n_cand, 1) AS pq_ppm
         |  FROM nt CROSS JOIN nc CROSS JOIN nh)
         |SELECT CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_cand AS BIGINT) AS n_cand,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST(pc_ppm AS BIGINT) AS pc_ppm,
         |  CAST(pq_ppm AS BIGINT) AS pq_ppm,
         |  CAST(CASE WHEN pc_ppm + pq_ppm = 0 THEN 0
         |    ELSE (2 * pc_ppm * pq_ppm) // (pc_ppm + pq_ppm) END
         |    AS BIGINT) AS f1_ppm
         |FROM r""".stripMargin),
      bench = false),

    // Jaro–Winkler entity resolution over document lead excerpts
    // (top-20 most similar non-identical pairs within 2-token
    // blocks): Spark ships `levenshtein` but not Jaro–Winkler — the
    // ER literature's preferred measure for short name-like strings
    // (prefix-weighted, length-normalized, transposition-tolerant) —
    // so the engine adds it as a codegen'd Catalyst expression
    // (jaro_winkler_milli, TextNorm.scala) and the oracle scores the
    // SAME pairs with DuckDB's NATIVE jaro_winkler_similarity: two
    // independent implementations of the published algorithm agreeing
    // to the milli floor, the strongest oracle form in the catalog.
    // Complements q177 (Levenshtein ER) and q103 (exact excerpt
    // pairs). Scale shape: 2-token blocking keys, block sizes capped
    // 2..50 (q233 convention, pairs ≤ C(50,2)/block); the JW kernel
    // runs inside whole-stage codegen; top-20 rides the bucketed
    // prefilter (q79 class).
    Q("q270_jaro_winkler_er", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      import s.implicits._
      val docs = t(s, d, "documents")
        .select($"doc_id",
          array_join(slice(TextOps.tokens($"text"), 1, 8), " ").as("ex"),
          array_join(slice(TextOps.tokens($"text"), 1, 2), " ").as("blk"))
      val sz = docs.groupBy($"blk").agg(count(lit(1)).as("c"))
        .filter($"c".between(2, 50))
      val b = docs.join(sz.select($"blk"), "blk")
      val pairs = b
        .select($"blk", $"doc_id".as("id_a"), $"ex".as("na"))
        .join(b.select($"blk", $"doc_id".as("id_b"), $"ex".as("nb")),
          Seq("blk"))
        .filter($"id_a" < $"id_b")
        .withColumn("jw_milli",
          call_function("jaro_winkler_milli", $"na", $"nb"))
        .filter($"jw_milli" >= 900)
      CorpusOps.globalTopK(pairs, $"id_a", k = 20,
          order = Seq($"jw_milli".desc, $"id_a".asc, $"id_b".asc))
        .select($"id_a", $"id_b", $"jw_milli")
    }, Some("""
      WITH p AS (
        SELECT doc_id,
          array_to_string((string_split_regex(trim(text), '\s+'))[1:8],
            ' ') AS ex,
          array_to_string((string_split_regex(trim(text), '\s+'))[1:2],
            ' ') AS blk
        FROM documents),
      sz AS (SELECT blk FROM p GROUP BY blk
             HAVING count(*) BETWEEN 2 AND 50),
      b AS (SELECT p.* FROM p JOIN sz USING (blk)),
      pr AS (
        SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
          CAST(floor(jaro_winkler_similarity(a.ex, b2.ex)
            * 1000) AS BIGINT) AS jw_milli
        FROM b a JOIN b b2
          ON a.blk = b2.blk AND a.doc_id < b2.doc_id)
      SELECT id_a, id_b, jw_milli FROM pr
      WHERE jw_milli >= 900
      QUALIFY row_number() OVER (ORDER BY jw_milli DESC, id_a ASC,
        id_b ASC) <= 20""")),

    // Typo-robustness distance profile: within q270's 2-token blocks,
    // the histogram of UNRESTRICTED Damerau–Levenshtein distances over
    // 8-token excerpt pairs, with a per-bucket count of TRANSPOSITION
    // WINS (pairs where DL < plain Levenshtein — exactly the
    // swapped-token/OCR cases the built-in metric over-penalizes, the
    // reason the ER literature wants the extra edit move). Spark
    // ships levenshtein only; `damerau_levenshtein` is the engine's
    // codegen'd Catalyst expression (TextNorm.scala, Lowrance–Wagner
    // with transposition drift, byte alphabet) and DuckDB's NATIVE
    // damerau_levenshtein scores the same pairs — two independent
    // implementations of the published algorithm agreeing exactly
    // (the q270 oracle form, here with NO quantization floor: the
    // metric is integer by definition). Scale shape: q270's capped
    // 2..50 blocks bound pair fan-out; both metrics run inside
    // whole-stage codegen on the same row; the histogram rollup is
    // map-side-combined over the ≤16-row distance domain.
    Q("q280_damerau_typo_profile", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      import s.implicits._
      val docs = t(s, d, "documents")
        .select($"doc_id",
          array_join(slice(TextOps.tokens($"text"), 1, 8), " ").as("ex"),
          array_join(slice(TextOps.tokens($"text"), 1, 2), " ").as("blk"))
      val sz = docs.groupBy($"blk").agg(count(lit(1)).as("c"))
        .filter($"c".between(2, 50))
      val b = docs.join(sz.select($"blk"), "blk")
      b.select($"blk", $"doc_id".as("id_a"), $"ex".as("na"))
        .join(b.select($"blk", $"doc_id".as("id_b"), $"ex".as("nb")),
          Seq("blk"))
        .filter($"id_a" < $"id_b")
        .select(call_function("damerau_levenshtein", $"na", $"nb").as("dl"),
          levenshtein($"na", $"nb").cast("long").as("lev"))
        .groupBy(expr("dl div 5").as("dist_bucket"))
        .agg(count(lit(1)).as("n_pairs"), min($"dl").as("min_dl"),
          max($"dl").as("max_dl"),
          sum(($"dl" < $"lev").cast("long")).as("n_transp_wins"),
          max($"lev" - $"dl").as("max_gain"))
    }, Some("""
      WITH p AS (
        SELECT doc_id,
          array_to_string((string_split_regex(trim(text), '\s+'))[1:8],
            ' ') AS ex,
          array_to_string((string_split_regex(trim(text), '\s+'))[1:2],
            ' ') AS blk
        FROM documents),
      sz AS (SELECT blk FROM p GROUP BY blk
             HAVING count(*) BETWEEN 2 AND 50),
      b AS (SELECT p.* FROM p JOIN sz USING (blk)),
      pr AS (
        SELECT damerau_levenshtein(a.ex, b2.ex) AS dl,
          levenshtein(a.ex, b2.ex) AS lev
        FROM b a JOIN b b2
          ON a.blk = b2.blk AND a.doc_id < b2.doc_id)
      SELECT CAST(dl // 5 AS BIGINT) AS dist_bucket,
        count(*) AS n_pairs,
        CAST(min(dl) AS BIGINT) AS min_dl,
        CAST(max(dl) AS BIGINT) AS max_dl,
        CAST(sum(CASE WHEN dl < lev THEN 1 ELSE 0 END) AS BIGINT)
          AS n_transp_wins,
        CAST(max(lev - dl) AS BIGINT) AS max_gain
      FROM pr GROUP BY 1""")),

    // Transitivity audit of the near-dup pair graph (wedge closure
    // rate over the hamming<=3 simhash pairs): a~b and b~c — how often
    // does a~c also hold? The connected-components merge (q53) treats
    // similarity as transitive; THIS measures how wrong that is
    // before the merge (closure near 1 = clean clusters, low closure
    // = chaining risk: CC will glue non-duplicates through bridge
    // docs). Scale shape: pairs from the banded equi-join (linear,
    // never all-pairs); wedge enumeration restricted to centers of
    // degree <= 20 (fan-out <= C(20,2) = 190 per center — the df-cap
    // convention, excluded hub count REPORTED so the cap is visible);
    // closure check is one (a, b)-keyed left join back to the pair
    // set; 1-row scalar rollups after.
    Q("q296_transitivity_audit", (s, d) => {
      import s.implicits._
      val tokRows = t(s, d, "documents")
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      // 60-bit signature (round 13): at hamming<=3 the 4 pigeonhole
      // bands of a 32-bit simhash carry 8 bits = 256 values each, so
      // candidate pairs grow QUADRATICALLY once the corpus outgrows the
      // band domain — the sf1 byte accounting measured this query's
      // candidate shuffle at 124x for 10x data (1.0 -> 124.3 MB). The
      // 15-bit bands (32768 values) restore ~constant bucket occupancy
      // through ~10^7 docs; see DedupOps.simhash60FromTokenRows.
      val sigs = DedupOps
        .simhash60FromTokenRows(tokRows, "doc_id", "tok", "simhash")
        .select($"doc_id", $"simhash")
      val pr = DedupOps
        .simhashPairsBanded(sigs, "doc_id", "simhash", maxHamming = 3,
          bits = 60)
        .select($"doc_a", $"doc_b").persist()
      val adj = pr.select($"doc_a".as("c"), $"doc_b".as("x"))
        .unionAll(pr.select($"doc_b".as("c"), $"doc_a".as("x")))
      // round-16 opt: wedges from a per-center sorted neighbor list
      // (the q103/q208 posting-explode convention), not a self-join —
      // the old form re-evaluated the adj ⋈ deg subtree on BOTH join
      // sides and shuffled it twice on c. Checkpoint 7: degree and
      // neighbor list come from ONE map-side-combined agg —
      // BoundedCollect bounds every buffer at 21 neighbors (the deg
      // cap enforced INSIDE the aggregate), so the edge frame crosses
      // the wire once, and the separate deg agg + adj ⋈ deg join are
      // gone. Hub lists (deg > 20) are partition-dependent and
      // discarded by the filter; hub COUNTS (nh below) use the exact
      // deg from the same frame. Each unordered (xa, xb) emerges once
      // per shared center — exactly the self-join's xa < xb row set
      // (neighbors of one center are distinct docs).
      val bcol = udaf(graft.functions.BoundedCollect(21))
      val nb = adj.groupBy($"c")
        .agg(count(lit(1)).as("deg"), bcol($"x").as("xs")).persist()
      val wed = nb.filter($"deg" <= 20)
        .select(explode(PairOps.pairs($"xs", "xa", "xb")).as("p"))
        .select($"p.xa".as("xa"), $"p.xb".as("xb"))
      val wf = wed.join(pr.select($"doc_a".as("xa"), $"doc_b".as("xb"),
          lit(1L).as("cl")), Seq("xa", "xb"), "left_outer")
        .agg(count(lit(1)).as("n_wedges"),
          sum(coalesce($"cl", lit(0L))).as("n_closed"))
      val np = pr.agg(count(lit(1)).as("n_pairs"))
      val nh = nb.agg(sum(when($"deg" > 20, 1L).otherwise(0L))
        .as("n_hubs_excluded"))
      wf.crossJoin(broadcast(np)).crossJoin(broadcast(nh))
        .select($"n_pairs", $"n_hubs_excluded", $"n_wedges",
          coalesce($"n_closed", lit(0L)).as("n_closed"),
          expr("""CASE WHEN n_wedges = 0 THEN 0
            ELSE (coalesce(n_closed, 0) * 1000000) div n_wedges END""")
            .as("closure_ppm"))
    }, Some(
      s"""WITH sh AS ($simhash60DuckSql),
         |pr AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |adj AS (SELECT da AS c, db AS x FROM pr
         |        UNION ALL SELECT db, da FROM pr),
         |deg AS (SELECT c, count(*) AS deg FROM adj GROUP BY 1),
         |aok AS (SELECT adj.c, adj.x FROM adj
         |        JOIN deg USING (c) WHERE deg <= 20),
         |wed AS (SELECT l.x AS xa, r.x AS xb
         |        FROM aok l JOIN aok r ON r.c = l.c AND l.x < r.x),
         |wf AS (
         |  SELECT count(*) AS n_wedges,
         |    sum(CASE WHEN p.da IS NOT NULL THEN 1 ELSE 0 END) AS n_closed
         |  FROM wed w LEFT JOIN pr p ON p.da = w.xa AND p.db = w.xb),
         |np AS (SELECT count(*) AS n_pairs FROM pr),
         |nh AS (SELECT sum(CASE WHEN deg > 20 THEN 1 ELSE 0 END)
         |         AS n_hubs_excluded FROM deg)
         |SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
         |  CAST(n_hubs_excluded AS BIGINT) AS n_hubs_excluded,
         |  CAST(n_wedges AS BIGINT) AS n_wedges,
         |  CAST(coalesce(n_closed, 0) AS BIGINT) AS n_closed,
         |  CAST(CASE WHEN n_wedges = 0 THEN 0
         |    ELSE (coalesce(n_closed, 0) * 1000000) // n_wedges END
         |    AS BIGINT) AS closure_ppm
         |FROM wf CROSS JOIN np CROSS JOIN nh""".stripMargin)),

    // q-gram edit-distance similarity join (Gravano et al. 2001: the
    // POSTING-LIST candidate generation every production fuzzy join
    // uses — a length filter plus the count-filter pigeonhole "edit
    // distance d destroys at most q·d grams", then exact verification
    // on survivors) — the INDEXED fuzzy join next to the BLOCKED ones
    // (q177 hashes a prefix block, q270/q280 pair within 2-token
    // blocks; a q-gram index recalls pairs those blockings MISS when
    // the typo hits the blocking key itself). Top-20 verified pairs
    // on the (dist, a, b) total order. Scale shape: the bigram
    // posting join is linear in posting mass with the df cap 2..50
    // (q233 convention — capped fan-out <= df²/gram); the count
    // filter prunes BEFORE the levenshtein verify; length filter ±1
    // rides the same pair row.
    Q("q316_qgram_ed_join", (s, d) => {
      import s.implicits._
      // the synthetic corpus has no natural near-miss lead excerpts,
      // so the query PLANTS two probe classes one edit apart at a
      // scale-free density (~5 docs/class at any SF via the live row
      // count — q55/q70/q77 planting precedent, q69 oracleDyn sizing)
      val m = math.max(
        graft.catalog.Stats.parquetRowCount(s, s"$d/documents.parquet") / 5,
        2L)
      val ex = t(s, d, "documents")
        .select($"doc_id",
          when($"doc_id" % m === 0, lit("zq kwxj vzpy"))
            .when($"doc_id" % m === 1, lit("zq kwxj vzp"))
            .otherwise(
              array_join(slice(TextOps.tokens($"text"), 1, 3), " "))
            .as("s"))
        .filter(length($"s") >= 4)
        .persist()
      val grams = ex
        .select($"doc_id", $"s", explode(expr(
          """array_distinct(transform(sequence(1, length(s) - 1),
            i -> substring(s, i, 2)))""")).as("g"))
      val df = grams.groupBy($"g").agg(count(lit(1)).as("df"))
        .filter($"df".between(2, 50))
      val post = grams.join(df.select($"g"), "g")
      // gram-set sizes POST df-cap: the count filter must compare
      // shared capped grams against capped set sizes, or a single
      // capped-out common gram silently fails every true pair (the
      // cap trades recall for bounded fan-out, documented)
      val gsz = post.groupBy($"doc_id").agg(count(lit(1)).as("ng"))
      val cand = post.select($"g", $"doc_id".as("a"), $"s".as("sa"))
        .join(post.select($"g", $"doc_id".as("b"), $"s".as("sb")), "g")
        .filter($"a" < $"b")
        .groupBy($"a", $"b", $"sa", $"sb")
        .agg(count(lit(1)).as("shared"))
        .join(gsz.select($"doc_id".as("a"), $"ng".as("na")), "a")
        .join(gsz.select($"doc_id".as("b"), $"ng".as("nb")), "b")
        .filter($"shared" >= greatest($"na", $"nb") - 2 &&
          greatest(length($"sa") - length($"sb"),
            length($"sb") - length($"sa")) <= 1)
      cand
        .select($"a".as("doc_a"), $"b".as("doc_b"),
          levenshtein($"sa", $"sb").cast("long").as("dist"))
        .filter($"dist" <= 1)
        .orderBy($"dist".asc, $"doc_a".asc, $"doc_b".asc)
        .limit(20)
    }, Some(DedupQueries.qgramEdOracleSql(100L)),
      oracleDyn = Some((s, d) => DedupQueries.qgramEdOracleSql(math.max(
        graft.catalog.Stats.parquetRowCount(s, s"$d/documents.parquet") / 5,
        2L)))),

    // Cross-document repeated-SPAN detector (the sliding-window
    // approximation of suffix-array exact-substring dedup from the
    // public training-data dedup literature): every 8-token window at
    // EVERY stride-1 position fingerprints row-locally, so spans that
    // straddle q126's fixed paragraph boundaries — the case paragraph
    // dedup structurally misses — still collide corpus-wide. Reports
    // the top-20 most-duplicated spans by (distinct docs desc,
    // occurrences desc, fp asc) — a total order. Scale shape: window
    // fingerprints are a row-local transform over each doc's token
    // array (no self-join, no explode-then-window); ONE
    // map-side-combined fp agg collapses the corpus; the top-20 is the
    // bucketed-prefilter globalTopK (never a global sort of the span
    // vocabulary). Exactness: md5 over space-joined tokens, identical
    // string semantics both engines; counts exact.
    Q("q338_span_dedup", (s, d) => {
      import s.implicits._
      // round-16 opt (guide §2.3 narrower types): the fingerprint
      // crosses BOTH agg exchanges as the 16-byte unhex(md5) BINARY,
      // not the 32-char hex string — halves the fp bytes on the wire;
      // only the 20 surviving rows pay the re-hex. Order-safe: unsigned
      // byte-wise binary comparison equals the lexicographic order of
      // its lowercase-hex rendering (each byte maps monotonically to
      // two hex chars, '0'<'9'<'a'<'f'), so the (n_docs, n_occ, fp)
      // total order — and hence the top-20 — is unchanged.
      val spans = t(s, d, "documents")
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
        .filter(size($"toks") >= 8)
        .select($"doc_id", explode(expr(
          """transform(sequence(1, size(toks) - 7),
            |  i -> unhex(md5(array_join(slice(toks, i, 8), ' '))))"""
            .stripMargin))
          .as("fpb"))
      val agg = spans.groupBy($"fpb")
        .agg(countDistinct($"doc_id").as("n_docs"),
          count(lit(1)).as("n_occurrences"))
        .filter($"n_docs" >= 2)
      CorpusOps.globalTopK(agg, $"fpb", 20,
        Seq($"n_docs".desc, $"n_occurrences".desc, $"fpb".asc))
        .select(lower(hex($"fpb")).as("fp"), $"n_docs", $"n_occurrences")
    }, Some("""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                 FROM documents),
      sp AS (
        SELECT doc_id,
          unnest(list_transform(range(1, len(toks) - 6),
            i -> md5(array_to_string(toks[i:i+7], ' ')))) AS fp
        FROM d WHERE len(toks) >= 8),
      a AS (
        SELECT fp, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
        FROM sp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
      SELECT fp, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(n_occurrences AS BIGINT) AS n_occurrences
      FROM a
      ORDER BY n_docs DESC, n_occurrences DESC, fp ASC
      LIMIT 20""")),

    // Shard-local dedup leakage audit: if dedup ran WITHIN each of 8
    // hash shards independently (the cheap scale-out shortcut every
    // 100 TB pipeline is tempted by — no cross-shard shuffle), what
    // fraction of the true near-dup pairs would it MISS? Near-dup
    // truth = the q34/q296 banded SimHash pairs (hamming <= 3 —
    // banding is exact-recall at that radius by pigeonhole); shards =
    // the q56-family hashMix(doc_id, 8). Random sharding strands
    // ~7/8 of pairs cross-shard, and THIS measures it on the real
    // pair population — the number that justifies (or kills) global
    // dedup. Scale: the pair generator is the established linear
    // banded join; shard labels are two doc-keyed equi-joins; 1-row
    // rollup. Exactness: counts + one ppm floor.
    Q("q344_shard_leakage", (s, d) => {
      import s.implicits._
      val tokRows = t(s, d, "documents")
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      // 60-bit signature + 15-bit bands (round 13, with q296/q217):
      // the 32-bit form's 8-bit band domain saturates with corpus size
      // and the candidate join goes quadratic — see
      // DedupOps.simhash60FromTokenRows.
      val sigs = DedupOps
        .simhash60FromTokenRows(tokRows, "doc_id", "tok", "simhash")
        .select($"doc_id", $"simhash")
      val pr = DedupOps
        .simhashPairsBanded(sigs, "doc_id", "simhash", maxHamming = 3,
          bits = 60)
        .select($"doc_a", $"doc_b")
      val sh = t(s, d, "documents")
        .select($"doc_id", CorpusOps.hashMix($"doc_id", 8L).as("shard"))
      pr.join(sh.select($"doc_id".as("doc_a"), $"shard".as("sa")), "doc_a")
        .join(sh.select($"doc_id".as("doc_b"), $"shard".as("sb")), "doc_b")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when($"sa" === $"sb", 1L).otherwise(0L)).as("n_within"),
          sum(when($"sa" =!= $"sb", 1L).otherwise(0L)).as("n_cross"))
        .select($"n_pairs", $"n_within", $"n_cross",
          expr("""CASE WHEN n_pairs = 0 THEN 0
            ELSE (n_cross * 1000000) div n_pairs END""").as("leakage_ppm"))
    }, Some(
      s"""WITH sh AS ($simhash60DuckSql),
         |pr AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |sd AS (
         |  SELECT doc_id,
         |    ((((doc_id % 1000003) + 1000003) % 1000003
         |      * 2654435761 + 40503) % 8 + 8) % 8 AS shard
         |  FROM documents),
         |j AS (
         |  SELECT sa.shard AS sa, sb.shard AS sb
         |  FROM pr JOIN sd sa ON sa.doc_id = pr.da
         |  JOIN sd sb ON sb.doc_id = pr.db)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_within,
         |  CAST(sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_cross,
         |  CAST(CASE WHEN count(*) = 0 THEN 0
         |    ELSE sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) * 1000000
         |      // count(*) END AS BIGINT) AS leakage_ppm
         |FROM j""".stripMargin)),

    // tf-WEIGHTED (multiset / generalized) Jaccard over the banded
    // SimHash candidate pairs — the similarity axis the binary-set
    // family (q33/q36/q154) is blind to: a token-stuffed or
    // repetition-padded copy carries the same token SET (set-Jaccard
    // ≈ 1) but a skewed token MULTISET; J_w = Σ_t min(tf_a, tf_b) /
    // Σ_t max(tf_a, tf_b) scores the inflation. Both scores are
    // emitted per pair, so the gap IS the readout. The identity
    // Σ max = tot_a + tot_b − Σ min turns the union side into per-doc
    // totals — only the shared-token INNER join is ever computed
    // (pairs sharing zero tokens cannot be near-dups and drop out,
    // mirrored in both engines). Scale shape: candidates come from the
    // 60-bit / 15-bit-band pigeonhole equi-join (q344's linear
    // generator — never all-pairs; the quadratic hamming join in the
    // oracle is the q35-convention verification form with the
    // IDENTICAL pair set by the pigeonhole guarantee); the tf frame is
    // persisted once for its three consumers (per-doc totals + both
    // pair sides); per-pair work is bounded by document length.
    Q("q359_weighted_jaccard", (s, d) => {
      import s.implicits._
      // persisted: feeds BOTH the simhash signature path and the tf
      // frame — without it the corpus tokenize/explode runs twice
      // (round-13 ADVICE)
      val tokRows = t(s, d, "documents")
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        .persist()
      val sigs = DedupOps
        .simhash60FromTokenRows(tokRows, "doc_id", "tok", "simhash")
        .select($"doc_id", $"simhash")
      val pairs = DedupOps
        .simhashPairsBanded(sigs, "doc_id", "simhash", maxHamming = 3,
          bits = 60)
        .select($"doc_a", $"doc_b")
      val tf = tokRows.groupBy($"doc_id", $"tok")
        .agg(count(lit(1)).as("tf")).persist()
      val tots = tf.groupBy($"doc_id")
        .agg(sum($"tf").cast("long").as("tot"),
          count(lit(1)).cast("long").as("ndist"))
      val ov = pairs
        .join(tf.select($"doc_id".as("doc_a"), $"tok", $"tf".as("tfa")),
          "doc_a")
        .join(tf.select($"doc_id".as("doc_b"), $"tok", $"tf".as("tfb")),
          Seq("doc_b", "tok"))
        .groupBy($"doc_a", $"doc_b")
        .agg(sum(least($"tfa", $"tfb")).as("minsum"),
          count(lit(1)).as("inter"))
      ov
        .join(tots.select($"doc_id".as("doc_a"), $"tot".as("tota"),
          $"ndist".as("nda")), "doc_a")
        .join(tots.select($"doc_id".as("doc_b"), $"tot".as("totb"),
          $"ndist".as("ndb")), "doc_b")
        .select($"doc_a", $"doc_b",
          expr("(minsum * 1000000) div (tota + totb - minsum)")
            .as("jw_ppm"),
          expr("(inter * 1000000) div (nda + ndb - inter)")
            .as("jset_ppm"))
    }, Some(
      s"""WITH sh AS ($simhash60DuckSql),
         |pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |tok AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS tok
         |  FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
         |       GROUP BY 1, 2),
         |tots AS (SELECT doc_id, sum(tf) AS tot, count(*) AS ndist
         |         FROM tf GROUP BY 1),
         |ov AS (
         |  SELECT pr.doc_a, pr.doc_b, sum(least(a.tf, b.tf)) AS minsum,
         |    count(*) AS inter
         |  FROM pr JOIN tf a ON a.doc_id = pr.doc_a
         |  JOIN tf b ON b.doc_id = pr.doc_b AND b.tok = a.tok
         |  GROUP BY 1, 2)
         |SELECT ov.doc_a, ov.doc_b,
         |  CAST(ov.minsum * 1000000 // (ta.tot + tb.tot - ov.minsum)
         |    AS BIGINT) AS jw_ppm,
         |  CAST(ov.inter * 1000000 // (ta.ndist + tb.ndist - ov.inter)
         |    AS BIGINT) AS jset_ppm
         |FROM ov JOIN tots ta ON ta.doc_id = ov.doc_a
         |JOIN tots tb ON tb.doc_id = ov.doc_b""".stripMargin)),

    // canonicalization ladder: the same corpus fingerprinted at three
    // normalization levels — L0 raw bytes, L1 lowercase + whitespace
    // collapse, L2 lowercase + strip non-alphanumerics + collapse —
    // reporting per level the distinct-fingerprint count, duplicate
    // groups, and duplicate-doc ppm. This is the DESIGN readout for
    // q32's exact dedup: how much duplication each normalization level
    // unlocks decides which canonical key the pipeline should dedup on
    // (too weak misses case/punct variants, too strong merges distinct
    // docs). Planted variants make the ladder non-degenerate at any SF:
    // doc_id % 30 == 5 becomes an UPPERCASED copy of its successor
    // (invisible to L0, merged by L1+), % 30 == 17 a punctuation-padded
    // copy (merged only by L2) — plant frequency is scale-invariant
    // (q117 convention). Scale shape: all three fingerprints are
    // row-local md5s over regexp chains with NO capture-group
    // replacements ($1 vs \1 is not engine-portable — q109 convention),
    // unpivoted to (level, fp) rows inside codegen; ONE map-side-
    // combined agg on (level, fp) then a 3-row rollup — linear, no
    // joins beyond the donor lookup, no windows.
    Q("q361_canonical_ladder", (s, d) => {
      import s.implicits._
      val base = t(s, d, "documents").select($"doc_id", $"text")
      val donors = base.select(($"doc_id" - 1).as("doc_id"),
        $"text".as("donor"))
      val planted = base.join(donors, Seq("doc_id"), "left")
        .select($"doc_id",
          when($"doc_id" % 30 === 5 && $"donor".isNotNull, upper($"donor"))
            .when($"doc_id" % 30 === 17 && $"donor".isNotNull,
              concat($"donor", lit(" !!!")))
            .otherwise($"text").as("text"))
      val fps = planted.select(
        md5($"text").as("fp0"),
        md5(trim(regexp_replace(lower($"text"), "\\s+", " "))).as("fp1"),
        md5(trim(regexp_replace(regexp_replace(lower($"text"),
          "[^a-z0-9 ]", ""), " +", " "))).as("fp2"))
      fps.select(expr(
          "stack(3, 'L0', fp0, 'L1', fp1, 'L2', fp2) as (level, fp)"))
        .groupBy($"level", $"fp").agg(count(lit(1)).as("cnt"))
        .groupBy($"level")
        .agg(sum($"cnt").cast("long").as("n_docs"),
          count(lit(1)).cast("long").as("n_distinct"),
          sum(when($"cnt" >= 2, 1L).otherwise(0L)).cast("long")
            .as("n_dup_groups"))
        .select($"level", $"n_docs", $"n_distinct", $"n_dup_groups",
          ($"n_docs" - $"n_distinct").as("dup_docs"),
          expr("(n_docs - n_distinct) * 1000000 div n_docs")
            .as("dup_ppm"))
    }, Some("""
      WITH base AS (SELECT doc_id, text FROM documents),
      pl AS (
        SELECT b.doc_id,
          CASE WHEN b.doc_id % 30 = 5 AND d.donor IS NOT NULL
                 THEN upper(d.donor)
               WHEN b.doc_id % 30 = 17 AND d.donor IS NOT NULL
                 THEN d.donor || ' !!!'
               ELSE b.text END AS text
        FROM base b
        LEFT JOIN (SELECT doc_id - 1 AS doc_id, text AS donor FROM base) d
          USING (doc_id)),
      f AS (
        SELECT md5(text) AS fp0,
          md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp1,
          md5(trim(regexp_replace(regexp_replace(lower(text),
            '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp2
        FROM pl),
      lv AS (
        SELECT 'L0' AS level, fp0 AS fp FROM f
        UNION ALL SELECT 'L1', fp1 FROM f
        UNION ALL SELECT 'L2', fp2 FROM f),
      g AS (SELECT level, fp, count(*) AS cnt FROM lv GROUP BY 1, 2)
      SELECT level, CAST(sum(cnt) AS BIGINT) AS n_docs,
        CAST(count(*) AS BIGINT) AS n_distinct,
        CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_groups,
        CAST(sum(cnt) - count(*) AS BIGINT) AS dup_docs,
        CAST((sum(cnt) - count(*)) * 1000000 // sum(cnt) AS BIGINT)
          AS dup_ppm
      FROM g GROUP BY 1""")),

    // LSH banding-parameter advisor: for every (bands, rows) split of
    // the SAME 16-hash MinHash signature, the two numbers that decide
    // the config — the THEORY threshold (S-curve midpoint J50 =
    // (1/b)^(1/r), where a pair's candidate probability crosses 1/2)
    // and the MEASURED cost (band-bucket occupancy on the live corpus:
    // bucket count, max bucket, exact candidate-pair volume
    // Σ c·(c−1)/2). q36/q222 run ONE config and verify its recall;
    // this is the advisor that PICKS the config (q215/q216/q321
    // advisor family) — theory says where the J cutoff lands, the
    // occupancy says what the candidate join costs at this corpus.
    // J50 literals are computed ONCE in the plan builder and spliced
    // into both engines (no cross-engine pow). Scale shape: the
    // signature frame is built once (one shingle pass + 16 min-aggs,
    // q36 shape) and persisted for the four configs; each config is
    // one band explode + ONE map-side-combined (band, hash) agg
    // collapsing to bucket counts + a 1-row rollup; candidate volume
    // sums in DECIMAL(38,0) (c·(c−1)/2 is corpus-quadratic per bucket
    // by design — that is the quantity being measured, not shipped).
    Q("q363_lsh_advisor", (s, d) => {
      import s.implicits._
      val sr = TextOps.distinctShingleRows(t(s, d, "documents"),
        "doc_id", "text")
      val sigs = DedupOps.minhashSignatures(sr, "doc_id", "shingle", k = 16)
        .persist()
      val configs = Seq((16, 1), (8, 2), (4, 4), (2, 8))
      // round-16 opt (guide §2.4): the four configs' bucket aggs used
      // to run as four separate (band_id, band_hash) exchanges + four
      // SinglePartition rollups (9 exchanges total). The banded frames
      // now union under a config tag and share ONE exchange keyed
      // (n_bands, band_id, band_hash) — same rows on the wire, one
      // barrier — and the rollup is one small groupBy(n_bands) agg.
      // The per-config constants (n_rows, j50) re-attach as literal
      // CASE arms on the tag. Rows/values identical (the driver gate
      // sorts rows; a config with zero band rows would lose its row
      // vs the old scalar-agg form, but sigs is non-empty at every SF
      // — same argument as q116's sizes note).
      val banded = configs.map { case (b, r) =>
        DedupOps.lshBands(sigs, "doc_id", "sig", bands = b, rows = r)
          .select(lit(b.toLong).as("n_bands"), $"band_id", $"band_hash")
      }.reduce(_ unionAll _)
      val j50Arm = configs.foldLeft(lit(null).cast("long")) {
        case (acc, (b, r)) =>
          when($"n_bands" === b.toLong,
            lit((math.pow(1.0 / b, 1.0 / r) * 1e6).toLong)).otherwise(acc)
      }
      val rowsArm = configs.foldLeft(lit(null).cast("long")) {
        case (acc, (b, r)) =>
          when($"n_bands" === b.toLong, lit(r.toLong)).otherwise(acc)
      }
      banded.groupBy($"n_bands", $"band_id", $"band_hash")
        .agg(count(lit(1)).as("c"))
        .groupBy($"n_bands")
        .agg(count(lit(1)).cast("long").as("n_buckets"),
          max($"c").cast("long").as("max_bucket"),
          expr("""cast(sum(cast(c as decimal(38,0)) * (c - 1) div 2)
            as bigint)""").as("cand_pairs"))
        .select($"n_bands", rowsArm.as("n_rows"),
          $"n_buckets", $"max_bucket", $"cand_pairs", j50Arm.as("j50_ppm"))
    }, Some(DedupQueries.lshAdvisorOracleSql)),

    // near-dup pair EVIDENCE: for every banded SimHash candidate pair
    // (q359's generator), the three RAREST shared tokens by global
    // document frequency — the "why are these two docs flagged"
    // column a human review queue or an appeals process needs (rare
    // shared tokens are discriminative evidence; frequent ones are
    // chrome). Completes the dedup family's OBSERVABILITY story: q104
    // reports rates, q359 scores pairs, this EXPLAINS them. Exactness:
    // df is an exact distinct-doc count; the top-3 is the (df asc,
    // token asc) total order via a per-pair window (bounded by shared
    // vocabulary per pair, never global). Scale shape: candidates from
    // the linear 60-bit band join; the distinct (doc, token) frame is
    // persisted once (both pair sides + the df agg); the df table is
    // Heaps-bounded and joined on the token key (one shuffle, NOT
    // broadcast — it grows with the corpus).
    Q("q365_pair_evidence", (s, d) => {
      import s.implicits._
      // single consumer (the simhash signature path) since the distinct
      // (doc, tok) frame went row-local in round 15 — no persist (round-15
      // ADVICE: the cache bought no reuse and held a corpus-sized
      // exploded frame resident)
      val tokRows = t(s, d, "documents")
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      val sigs = DedupOps
        .simhash60FromTokenRows(tokRows, "doc_id", "tok", "simhash")
        .select($"doc_id", $"simhash")
      val pairs = DedupOps
        .simhashPairsBanded(sigs, "doc_id", "simhash", maxHamming = 3,
          bits = 60)
        .select($"doc_a", $"doc_b")
      // row-local distinct (round-15 opt): the dedup key contains the
      // doc id, so array_distinct inside the row replaces the corpus
      // exchange; the sig path keeps the occurrence-weighted tokRows
      val dt = t(s, d, "documents")
        .select($"doc_id",
          explode(array_distinct(TextOps.tokens($"text"))).as("tok"))
        .persist()
      val dfTab = dt.groupBy($"tok").agg(count(lit(1)).as("df"))
      val shared = pairs
        .join(dt.select($"doc_id".as("doc_a"), $"tok"), "doc_a")
        .join(dt.select($"doc_id".as("doc_b"), $"tok"), Seq("doc_b", "tok"))
        .join(dfTab, "tok")
      val w = Window.partitionBy($"doc_a", $"doc_b")
        .orderBy($"df".asc, $"tok".asc)
      shared.withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
        .select($"doc_a", $"doc_b", $"rk".cast("long").as("rk"),
          $"tok".as("evidence_tok"), $"df".cast("long").as("df"))
    }, Some(
      s"""WITH sh AS ($simhash60DuckSql),
         |pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |dt AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS tok
         |  FROM documents),
         |dfr AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1),
         |ev AS (
         |  SELECT pr.doc_a, pr.doc_b, a.tok, dfr.df,
         |    row_number() OVER (PARTITION BY pr.doc_a, pr.doc_b
         |      ORDER BY dfr.df ASC, a.tok ASC) AS rk
         |  FROM pr JOIN dt a ON a.doc_id = pr.doc_a
         |  JOIN dt b ON b.doc_id = pr.doc_b AND b.tok = a.tok
         |  JOIN dfr ON dfr.tok = a.tok)
         |SELECT doc_a, doc_b, CAST(rk AS BIGINT) AS rk,
         |  tok AS evidence_tok, CAST(df AS BIGINT) AS df
         |FROM ev WHERE rk <= 3""".stripMargin)),

    // dedup-threshold policy sweep: for each Jaccard cutoff tau in
    // {0.5 .. 0.9}, the numbers a dedup policy decision needs — how
    // many near-dup pairs qualify, how many documents a pair-level
    // remove-the-higher-id pass drops, and the token mass that removal
    // costs — the aggressiveness-vs-data-loss trade curve (q36 runs
    // ONE threshold and verifies recall; q80/q217/q309 sweep QUALITY
    // thresholds; nothing swept the dedup cutoff). Candidates and
    // exact Jaccard are q36's verified machinery (banded MinHash,
    // capped buckets, candidate-restricted intersection join), priced
    // once and re-read for all five cutoffs via a constant 5-row grid
    // broadcast. Removal accounting is per (tau, doc): DISTINCT
    // removed ids, then ONE join to the per-doc token counts; the
    // corpus token total is a 1-row broadcast. Everything downstream
    // of the candidate join is pairs-sized — linear at any corpus
    // size by the banding argument.
    Q("q368_dedup_threshold_sweep", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val sr = TextOps.distinctShingleRows(docs, "doc_id", "text")
        .persist()
      val sigs = DedupOps.minhashSignatures(sr, "doc_id", "shingle", k = 16)
      val bandTable = DedupOps.lshBands(sigs, "doc_id", "sig",
        bands = 4, rows = 4)
      val cands = DedupOps.lshCandidates(bandTable, "doc_id")
      val sizes = sr.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
      val pairs = cands
        .join(sr.select($"doc_id".as("doc_a"), $"shingle"), "doc_a")
        .join(sr.select($"doc_id".as("doc_b"), $"shingle"),
          Seq("doc_b", "shingle"))
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter"))
        .join(sizes.select($"doc_id".as("doc_a"), $"sz".as("sza")), "doc_a")
        .join(sizes.select($"doc_id".as("doc_b"), $"sz".as("szb")), "doc_b")
        .select($"doc_a", $"doc_b",
          expr("(inter * 1000000) div (sza + szb - inter)").as("j_ppm"))
      val taus = Seq(500000L, 600000L, 700000L, 800000L, 900000L)
        .toDF("tau_ppm")
      val qual = pairs.join(broadcast(taus), $"j_ppm" >= $"tau_ppm")
        .persist() // pair counts AND the removed-doc accounting
      val toks = docs.select($"doc_id",
        TextOps.tokenCount($"text").cast("long").as("ntok"))
      val total = toks.agg(sum($"ntok").as("tot"))
      val removed = qual.select($"tau_ppm", $"doc_b").distinct()
        .join(toks.select($"doc_id".as("doc_b"), $"ntok"), "doc_b")
        .groupBy($"tau_ppm")
        .agg(count(lit(1)).cast("long").as("n_docs_removed"),
          sum($"ntok").cast("long").as("rt"))
      qual.groupBy($"tau_ppm")
        .agg(count(lit(1)).cast("long").as("n_pairs"))
        .join(removed, Seq("tau_ppm"), "left_outer")
        .crossJoin(broadcast(total))
        .select($"tau_ppm", $"n_pairs",
          coalesce($"n_docs_removed", lit(0L)).as("n_docs_removed"),
          expr("""cast(cast(coalesce(rt, 0) as decimal(38,0)) * 1000000
            div tot as bigint)""").as("removed_token_ppm"))
    }, Some(
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         |      AS shingle
         |  FROM toks),
         |hv AS (SELECT doc_id, (${hvDuckOf("shingle")}) % 2147483647 AS hv
         |       FROM sh),
         |mh AS (
         |  SELECT doc_id, i,
         |    min((hv * ((i * 2654435761) % 2147483646 + 1)
         |         + (i * 40503 + 17) % 2147483647) % 2147483647) AS h
         |  FROM hv CROSS JOIN (SELECT unnest(range(0, 16)) AS i) ii
         |  GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, CAST(i // 4 AS INT) AS band_id,
         |         string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS bk
         |  FROM mh GROUP BY doc_id, i // 4),
         |bsz AS (SELECT band_id, bk, count(*) AS c FROM bands GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x
         |  JOIN bands y ON x.band_id = y.band_id AND x.bk = y.bk
         |              AND x.doc_id < y.doc_id
         |  JOIN bsz s ON s.band_id = x.band_id AND s.bk = x.bk
         |  WHERE s.c BETWEEN 2 AND 1000),
         |szs AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.doc_a
         |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |  GROUP BY c.doc_a, c.doc_b),
         |pj AS (
         |  SELECT i.doc_a, i.doc_b,
         |    i.inter * 1000000 // (sa.sz + sb.sz - i.inter) AS j_ppm
         |  FROM inter i
         |  JOIN szs sa ON sa.doc_id = i.doc_a
         |  JOIN szs sb ON sb.doc_id = i.doc_b),
         |grid(tau_ppm) AS (VALUES (500000), (600000), (700000),
         |  (800000), (900000)),
         |qual AS (SELECT g.tau_ppm, pj.doc_a, pj.doc_b
         |         FROM pj JOIN grid g ON pj.j_ppm >= g.tau_ppm),
         |tk AS (SELECT doc_id,
         |         len(string_split_regex(trim(text), '\\s+')) AS ntok
         |       FROM documents),
         |tt AS (SELECT sum(ntok) AS tot FROM tk),
         |rem AS (
         |  SELECT q.tau_ppm, count(*) AS n_docs_removed,
         |    sum(tk.ntok) AS rt
         |  FROM (SELECT DISTINCT tau_ppm, doc_b FROM qual) q
         |  JOIN tk ON tk.doc_id = q.doc_b
         |  GROUP BY 1)
         |SELECT CAST(q.tau_ppm AS BIGINT) AS tau_ppm,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(any_value(rem.n_docs_removed), 0) AS BIGINT)
         |    AS n_docs_removed,
         |  CAST(CAST(coalesce(any_value(rem.rt), 0) AS HUGEINT) * 1000000
         |    // any_value(tt.tot) AS BIGINT) AS removed_token_ppm
         |FROM qual q
         |LEFT JOIN rem ON rem.tau_ppm = q.tau_ppm
         |CROSS JOIN tt
         |GROUP BY q.tau_ppm""".stripMargin)),

    // EXACT substring-duplication profile via suffix-array prefix
    // doubling — the Lee et al. 2022 ExactSubstr family in its EXACT
    // form (q77/q338 approximate it with rolling window hashes; this
    // closes the round-13 verdict's one "approximated, not
    // implemented" dedup cell). Algorithm, cross-engine exactness
    // (min-gid class representatives, -1 sentinels, eligibility
    // filter) and the bounded-width observation (threshold-L
    // detection needs only ceil(log2 L) doubling rounds, because
    // width-L rank collision IS the adjacent-LCP >= L condition on
    // the full suffix array) are pinned on [[SuffixOps]]. Same
    // planted 12-token tail as q77 so the two profiles cross-validate
    // on the same docs (SuffixDedupSpec); L = 8 matches q77's window
    // width. Oracle: the doubling rounds unrolled as MATERIALIZED
    // CTEs (q356 discipline — each round is referenced by the next
    // twice through lead + min-over, inlining would recompute
    // exponentially). Scale shape: every round shuffles fixed-width
    // rank rows, never token payloads — O(n log L) fixed-size rows vs
    // the naive exact form's O(n * L) text bytes; two-path per the
    // q193/q356 family, distributed arm equivalence-tested in
    // GraphTwoPathSpec.
    Q("q369_suffix_dedup", (s, d) => {
      import s.implicits._
      val planted = t(s, d, "documents").select($"doc_id",
        when($"doc_id" % 7 === 3,
          concat($"text",
            lit(" the quick brown fox jumps over the lazy dog again and again")))
        .otherwise($"text").as("text"))
      val pos = planted
        .select($"doc_id",
          posexplode(TextOps.tokens($"text")).as(Seq("p", "tok")))
        .select($"doc_id", $"p".cast("long").as("pos"), $"tok")
      SuffixOps.dupSpanProfile(pos, width = 8)
    }, Some(suffixDupOracleSql(8))),

    // False-positive cost of a first-claimant MinHash band gate: a doc
    // is held when ANY of its 4 band keys was already claimed by an
    // earlier doc — conservative by design, so the
    // held-but-not-near-duplicate rate is the number to watch.
    // Semantics: arrival order = doc_id order, a band key's CLAIMANT is
    // the min doc_id carrying it, a doc is HELD iff some band's claimant
    // precedes it, and a held doc is a FALSE POSITIVE iff its exact
    // shingle Jaccard vs EVERY claimant that blocked it is < 0.5 (q36's
    // threshold) — blame is assigned to the docs the gate actually
    // deduped against, so the per-held fan-out is <= bands at ANY corpus
    // size (never the full bucket). Output: one row — docs, held,
    // fp-held, and both rates in floor-ppm. Identical hash family to q36
    // (signatures recomputed end-to-end in the oracle). Scale shape: one
    // distinct-shingle pass (persisted, 4 consumers), the claimant agg
    // is the gate's state table (linear), claims join fans out <=
    // bands rows/doc, the intersection join is candidate-restricted —
    // every stage linear in the corpus.
    Q("q370_band_gate_fp", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val sr = TextOps.distinctShingleRows(docs, "doc_id", "text")
        .persist()
      val sigs = DedupOps.minhashSignatures(sr, "doc_id", "shingle", k = 16)
      val bands = DedupOps.lshBands(sigs, "doc_id", "sig", bands = 4, rows = 4)
      val first = bands.groupBy($"band_id", $"band_hash")
        .agg(min($"doc_id").as("first_id"))
      val claims = bands.join(first, Seq("band_id", "band_hash"))
        .filter($"first_id" < $"doc_id")
        .select($"first_id".as("doc_a"), $"doc_id".as("doc_b"))
        .distinct().persist()
      val sizes = sr.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
      val inter = claims
        .join(sr.select($"doc_id".as("doc_a"), $"shingle"), "doc_a")
        .join(sr.select($"doc_id".as("doc_b"), $"shingle"),
          Seq("doc_b", "shingle"))
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter"))
      val jp = claims
        .join(inter, Seq("doc_a", "doc_b"), "left_outer")
        .join(sizes.select($"doc_id".as("doc_a"), $"sz".as("sza")), "doc_a")
        .join(sizes.select($"doc_id".as("doc_b"), $"sz".as("szb")), "doc_b")
        .withColumn("j_ppm", expr(
          "coalesce(inter, 0L) * 1000000 div (sza + szb - coalesce(inter, 0L))"))
      val held = jp.groupBy($"doc_b").agg(max($"j_ppm").as("maxj"))
      val tot = docs.agg(count(lit(1)).cast("long").as("n_docs"))
      held.agg(
          count(lit(1)).cast("long").as("n_held"),
          coalesce(sum(when($"maxj" < 500000L, 1L).otherwise(0L)), lit(0L))
            .cast("long").as("n_fp_held"))
        .crossJoin(broadcast(tot))
        .select($"n_docs", $"n_held", $"n_fp_held",
          expr("n_held * 1000000 div n_docs").as("held_ppm"),
          expr("n_fp_held * 1000000 div n_docs").as("fp_ppm"))
    }, Some(
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         |      AS shingle
         |  FROM toks),
         |hv AS (SELECT doc_id, (${hvDuckOf("shingle")}) % 2147483647 AS hv
         |       FROM sh),
         |mh AS (
         |  SELECT doc_id, i,
         |    min((hv * ((i * 2654435761) % 2147483646 + 1)
         |         + (i * 40503 + 17) % 2147483647) % 2147483647) AS h
         |  FROM hv CROSS JOIN (SELECT unnest(range(0, 16)) AS i) ii
         |  GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, CAST(i // 4 AS INT) AS band_id,
         |         string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS bk
         |  FROM mh GROUP BY doc_id, i // 4),
         |fst AS (SELECT band_id, bk, min(doc_id) AS first_id
         |        FROM bands GROUP BY 1, 2),
         |claims AS (
         |  SELECT DISTINCT f.first_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands b
         |  JOIN fst f ON f.band_id = b.band_id AND f.bk = b.bk
         |  WHERE f.first_id < b.doc_id),
         |szs AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM claims c
         |  JOIN sh a ON a.doc_id = c.doc_a
         |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |  GROUP BY 1, 2),
         |jp AS (
         |  SELECT c.doc_a, c.doc_b,
         |    coalesce(i.inter, 0) * 1000000
         |      // (sa.sz + sb.sz - coalesce(i.inter, 0)) AS j_ppm
         |  FROM claims c
         |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  JOIN szs sa ON sa.doc_id = c.doc_a
         |  JOIN szs sb ON sb.doc_id = c.doc_b),
         |held AS (SELECT doc_b, max(j_ppm) AS maxj FROM jp GROUP BY 1),
         |agg AS (
         |  SELECT count(*) AS n_held,
         |    coalesce(sum(CASE WHEN maxj < 500000 THEN 1 ELSE 0 END), 0)
         |      AS n_fp
         |  FROM held),
         |tot AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_held AS BIGINT) AS n_held,
         |  CAST(n_fp AS BIGINT) AS n_fp_held,
         |  CAST(n_held * 1000000 // n_docs AS BIGINT) AS held_ppm,
         |  CAST(n_fp * 1000000 // n_docs AS BIGINT) AS fp_ppm
         |FROM agg CROSS JOIN tot""".stripMargin)),

    // Duplication DEPTH ladder — the policy readout q369's single
    // threshold cannot give: per source, how many documents carry
    // exactly-repeated spans of >= 8, >= 16, and >= 32 tokens (and how
    // many such starts). An 8-token repeat is a phrase; a 32-token
    // repeat is boilerplate or a syndicated passage — the depth
    // profile decides per-source whether to trim spans (shallow) or
    // drop documents (deep). ONE prefix-doubling chain serves all
    // three widths (snapshots on the way up: 5 rounds total, then one
    // class-count window per width — [[SuffixOps.dupDepthProfile]]);
    // monotone by construction (a width-2w dup start is a width-w dup
    // start), pinned in SuffixDedupSpec. Planted: q77's 12-token tail
    // (width-8 regime only) + a 35-token tail on doc_id % 11 == 5
    // (reaches width 32), so all three regimes are exercised at every
    // SF. Oracle: the shared chain with snapshot joins, unrolled
    // MATERIALIZED per the q356/q369 discipline.
    Q("q371_dup_depth_ladder", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val planted = docs.select($"doc_id", $"source",
        concat(
          when($"doc_id" % 7 === 3, concat($"text", lit(tail12)))
            .otherwise($"text"),
          when($"doc_id" % 11 === 5, lit(tail35)).otherwise(lit("")))
          .as("text"))
      val pos = planted
        .select($"doc_id",
          posexplode(TextOps.tokens($"text")).as(Seq("p", "tok")))
        .select($"doc_id", $"p".cast("long").as("pos"), $"tok")
      val per = SuffixOps.dupDepthProfile(pos, Seq(8, 16, 32))
      per.join(docs.select($"doc_id", $"source"), "doc_id")
        .groupBy($"source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when($"dup_starts_w8" > 0, 1L).otherwise(0L))
            .cast("long").as("docs_w8"),
          sum($"dup_starts_w8").cast("long").as("starts_w8"),
          sum(when($"dup_starts_w16" > 0, 1L).otherwise(0L))
            .cast("long").as("docs_w16"),
          sum($"dup_starts_w16").cast("long").as("starts_w16"),
          sum(when($"dup_starts_w32" > 0, 1L).otherwise(0L))
            .cast("long").as("docs_w32"),
          sum($"dup_starts_w32").cast("long").as("starts_w32"))
        .select($"source", $"n_docs", $"docs_w8", $"starts_w8",
          $"docs_w16", $"starts_w16", $"docs_w32", $"starts_w32")
    }, Some(suffixDepthOracleSql(Seq(8, 16, 32)))),

    // Cross-set EXACT-substring decontamination — the Lee et al. 2022
    // decontamination use of the suffix machinery (q54/q81/q115
    // decontaminate on exact fingerprints, Bloom membership, and
    // fuzzy shingles; nothing caught verbatim >= 8-token OVERLAP with
    // an eval set). doc_id % 31 == 7 designates the benchmark side; a
    // corpus start is contaminated when its 8-token sequence also
    // occurs at an eligible benchmark position (disjoint sets, so one
    // bench-member count per rank class decides —
    // [[SuffixOps.crossContamProfile]]). The q77 planted tail makes
    // the planted family cross the bench/corpus split at every SF
    // (CRT: doc_id % 217 has both residues populated). Per-source
    // readout: corpus/bench doc counts, contaminated docs + ppm, and
    // contaminated start mass — the trim-vs-drop decontamination
    // decision inputs.
    Q("q372_exact_decontam", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val planted = docs.select($"doc_id", $"source",
        when($"doc_id" % 7 === 3, concat($"text", lit(tail12)))
          .otherwise($"text").as("text"),
        ($"doc_id" % 31 === 7).as("is_bench"))
      val pos = planted
        .select($"doc_id", $"is_bench",
          posexplode(TextOps.tokens($"text")).as(Seq("p", "tok")))
        .select($"doc_id", $"p".cast("long").as("pos"), $"tok",
          $"is_bench")
      val per = SuffixOps.crossContamProfile(pos, width = 8)
      per.join(docs.select($"doc_id", $"source"), "doc_id")
        .groupBy($"source")
        .agg(
          sum(when(!$"is_bench", 1L).otherwise(0L)).cast("long")
            .as("n_corpus_docs"),
          sum(when($"is_bench", 1L).otherwise(0L)).cast("long")
            .as("n_bench_docs"),
          sum(when(!$"is_bench" && $"n_contam_starts" > 0, 1L)
            .otherwise(0L)).cast("long").as("n_contaminated_docs"),
          sum(when(!$"is_bench", $"n_contam_starts").otherwise(0L))
            .cast("long").as("n_contam_starts"))
        .select($"source", $"n_corpus_docs", $"n_bench_docs",
          $"n_contaminated_docs",
          expr("""CASE WHEN n_corpus_docs = 0 THEN CAST(0 AS BIGINT)
            ELSE n_contaminated_docs * 1000000 div n_corpus_docs
            END""").as("contaminated_ppm"),
          $"n_contam_starts")
    }, Some(suffixContamOracleSql(8))),

    // ACTUATION of the exact-substring profile (round-14 verdict #2 —
    // the Lee et al. 2022 step q369 stops short of): emit the
    // DEDUPLICATED CORPUS under the trim policy. Every other dedup
    // family already has its actuation (q53 cluster resolution, q74
    // drop labels, q67 anti-join); this closes the exact-substring
    // family's. A position is removed when covered by a duplicated
    // eligible start but by NO canonical one — canonical := the start
    // whose gid IS its rank class representative (the first corpus
    // occurrence, min-gid like every rep in the family), so exactly
    // one occurrence of each duplicated window survives, intact and
    // contiguous ([[SuffixOps.trimDuplicatedSpans]]; conservation and
    // canonical-survival invariants pinned in SuffixDedupSpec). Same
    // planted corpus as q369, so the two outputs cross-validate
    // per-doc (n_removed <= n_dup_positions). Output is the full
    // per-doc trimmed text — the oracle hash covers every kept token.
    Q("q373_substr_trim", (s, d) => {
      import s.implicits._
      val planted = t(s, d, "documents").select($"doc_id",
        when($"doc_id" % 7 === 3, concat($"text", lit(tail12)))
          .otherwise($"text").as("text"))
      val pos = planted
        .select($"doc_id",
          posexplode(TextOps.tokens($"text")).as(Seq("p", "tok")))
        .select($"doc_id", $"p".cast("long").as("pos"), $"tok")
      SuffixOps.trimDuplicatedSpans(pos, width = 8)
    }, Some(suffixTrimOracleSql(8))),

    // INCREMENTAL exact-substring trim — the continual-pretraining
    // data-refresh step (the cross-set complement of q373's
    // within-corpus trim): a NEW batch is deduplicated against an
    // already-trained REFERENCE corpus, removing every position
    // covered by a >= 8-token window that occurs verbatim on the
    // reference side. The reference copy is the canonical survivor,
    // so there is no canonical exception on the new side — q373
    // handles within-batch duplication, q67/q111 handle whole-doc
    // incremental dedup on fingerprints; nothing actuated SPAN-level
    // incremental dedup ([[SuffixOps.trimCrossSet]]). doc_id % 5 == 0
    // designates the reference; the q77 planted tail crosses the split
    // by CRT (residues 10 and 3 mod 35 both populated at every SF), so
    // planted spans are trimmed from new docs at every SF. Output is
    // the full per-new-doc surviving text — the oracle hash covers
    // every kept token.
    Q("q374_incr_trim", (s, d) => {
      import s.implicits._
      val planted = t(s, d, "documents").select($"doc_id",
        when($"doc_id" % 7 === 3, concat($"text", lit(tail12)))
          .otherwise($"text").as("text"),
        ($"doc_id" % 5 === 0).as("is_ref"))
      val pos = planted
        .select($"doc_id", $"is_ref",
          posexplode(TextOps.tokens($"text")).as(Seq("p", "tok")))
        .select($"doc_id", $"p".cast("long").as("pos"), $"tok",
          $"is_ref")
      SuffixOps.trimCrossSet(pos, width = 8)
    }, Some(suffixCrossTrimOracleSql(8)))
  )

  /** q363's oracle: the q36 MinHash CTE chain, then per (bands, rows)
    * config a band table + bucket-count rollup; J50 literals computed
    * by the same Scala expression the Spark plan splices in. */
  private[operators] def lshAdvisorOracleSql: String = {
    val mh =
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         |      AS shingle
         |  FROM toks),
         |hv AS (SELECT doc_id, (${hvDuckOf("shingle")}) % 2147483647 AS hv
         |       FROM sh),
         |mh AS (
         |  SELECT doc_id, i,
         |    min((hv * ((i * 2654435761) % 2147483646 + 1)
         |         + (i * 40503 + 17) % 2147483647) % 2147483647) AS h
         |  FROM hv CROSS JOIN (SELECT unnest(range(0, 16)) AS i) ii
         |  GROUP BY doc_id, i)""".stripMargin
    val cfgs = Seq((16, 1), (8, 2), (4, 4), (2, 8))
    val bandCtes = cfgs.map { case (b, r) =>
      s"""b$b AS (SELECT CAST(i // $r AS INT) AS band_id,
         |        string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS bk
         |      FROM mh GROUP BY doc_id, i // $r),
         |c$b AS (SELECT band_id, bk, count(*) AS c FROM b$b
         |      GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val selects = cfgs.map { case (b, r) =>
      val j50 = (math.pow(1.0 / b, 1.0 / r) * 1e6).toLong
      s"""SELECT CAST($b AS BIGINT) AS n_bands,
         |  CAST($r AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(max(c) AS BIGINT) AS max_bucket,
         |  CAST(sum(CAST(c AS HUGEINT) * (c - 1) // 2) AS BIGINT)
         |    AS cand_pairs,
         |  CAST($j50 AS BIGINT) AS j50_ppm
         |FROM c$b""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$mh,\n$bandCtes\n$selects"
  }

  /** q369's oracle: the prefix-doubling rounds unrolled as MATERIALIZED
    * CTEs (width = 2^k → k rounds after the width-1 seed), min-gid
    * class representatives so both engines assign IDENTICAL ranks,
    * then eligibility-filtered class counts, coverage, and span
    * extraction — the exact twin of both [[SuffixOps.dupSpanProfile]]
    * arms. */
  private[operators] def suffixDupOracleSql(width: Int): String = {
    require(width >= 2 && (width & (width - 1)) == 0)
    val gaps = Iterator.iterate(1)(_ * 2).takeWhile(_ < width).toSeq
    val roundCtes = gaps.zipWithIndex.map { case (g, k) =>
      val i = k + 1
      s"""s$i AS MATERIALIZED (
         |  SELECT doc_id, pos, n, gid, r,
         |    coalesce(lead(r, $g)
         |      OVER (PARTITION BY doc_id ORDER BY pos), -1) AS r2
         |  FROM r${i - 1}),
         |r$i AS MATERIALIZED (
         |  SELECT doc_id, pos, n, gid,
         |    min(gid) OVER (PARTITION BY r, r2) AS r
         |  FROM s$i)""".stripMargin
    }.mkString(",\n")
    val last = s"r${gaps.length}"
    s"""WITH raw AS (
       |  SELECT doc_id, CASE WHEN doc_id % 7 = 3
       |      THEN text ||
       |        ' the quick brown fox jumps over the lazy dog again and again'
       |      ELSE text END AS text
       |  FROM documents),
       |tl AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
       |       FROM raw),
       |tok AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, l[i + 1] AS tok, len(l) AS n,
       |    doc_id * 1048576 + i AS gid
       |  FROM (SELECT doc_id, l, unnest(range(0, len(l))) AS i FROM tl) q),
       |r0 AS MATERIALIZED (
       |  SELECT doc_id, pos, n, gid,
       |    min(gid) OVER (PARTITION BY tok) AS r
       |  FROM tok),
       |$roundCtes,
       |cnt AS (
       |  SELECT doc_id, pos, n,
       |    CASE WHEN pos + $width <= n THEN 1 ELSE 0 END AS e,
       |    sum(CASE WHEN pos + $width <= n THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY r) AS c
       |  FROM $last),
       |cov AS (
       |  SELECT doc_id, pos,
       |    max(CASE WHEN e = 1 AND c >= 2 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN ${width - 1} PRECEDING AND CURRENT ROW)
       |      AS cv
       |  FROM cnt),
       |cv2 AS (
       |  SELECT doc_id, cv,
       |    coalesce(lag(cv) OVER (PARTITION BY doc_id ORDER BY pos), 0)
       |      AS pcv
       |  FROM cov)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(cv) AS BIGINT) AS n_dup_positions,
       |  CAST(sum(CASE WHEN cv = 1 AND pcv = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_spans,
       |  CAST(floor(sum(cv) * 1.0 / count(*) * 1000000) AS BIGINT)
       |    AS dup_ppm
       |FROM cv2 GROUP BY 1""".stripMargin
  }

  /** The two planted tails shared by the q369/q371/q372 suffix family
    * and their oracles: q77's 12-token tail (width-8 regime) and a
    * 35-token tail (reaches the width-32 regime in q371's ladder). */
  private[operators] val tail12 =
    " the quick brown fox jumps over the lazy dog again and again"
  private[operators] val tail35 =
    " alpha beta gamma delta epsilon zeta eta theta iota kappa" +
      " lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi" +
      " omega one two three four five six seven eight nine ten eleven"

  /** Shared CTE prefix for the suffix-family oracles: planted text,
    * token positions with gid, and the prefix-doubling rounds to
    * `width` with SNAPSHOT columns for each width in `snaps`
    * (ascending; last must equal `width`). Emits CTEs `raw, tl, tok,
    * r0..rK` where the final CTE carries `r_w<s>` for every snapshot
    * plus doc_id, pos, n (and `is_bench` when `benchFlag`). */
  private def suffixChainSql(snaps: Seq[Int], plant35: Boolean,
                             benchFlag: Boolean,
                             benchExpr: String = "doc_id % 31 = 7")
      : (String, String) = {
    val width = snaps.last
    val plant = "CASE WHEN doc_id % 7 = 3 THEN text || '" + tail12 +
      "' ELSE text END" +
      (if (plant35) " || CASE WHEN doc_id % 11 = 5 THEN '" + tail35 +
        "' ELSE '' END" else "")
    val bench = if (benchFlag) s", $benchExpr AS is_bench" else ""
    val benchCol = if (benchFlag) ", is_bench" else ""
    val gaps = Iterator.iterate(1)(_ * 2).takeWhile(_ < width).toSeq
    val rounds = gaps.zipWithIndex.map { case (g, k) =>
      val i = k + 1
      s"""s$i AS MATERIALIZED (
         |  SELECT doc_id, pos, n, gid$benchCol, r,
         |    coalesce(lead(r, $g)
         |      OVER (PARTITION BY doc_id ORDER BY pos), -1) AS r2
         |  FROM r${i - 1}),
         |r$i AS MATERIALIZED (
         |  SELECT doc_id, pos, n, gid$benchCol,
         |    min(gid) OVER (PARTITION BY r, r2) AS r
         |  FROM s$i)""".stripMargin
    }
    // snapshots: the rank at width 2^i lives in round CTE r_i; `fin`
    // joins the snapshot rounds on (doc_id, pos) — no column carrying
    val roundAtWidth = gaps.zipWithIndex
      .map { case (g, k) => (g * 2, k + 1) }.toMap
    val last = s"r${roundAtWidth(width)}"
    val snapSelect = snaps.map(s =>
      s"r${roundAtWidth(s)}.r AS r_w$s").mkString(", ")
    val joins = snaps.dropRight(1).map(s =>
      s"  JOIN r${roundAtWidth(s)} USING (doc_id, pos)").mkString("\n")
    val finBench = if (benchFlag) s", $last.is_bench" else ""
    val fin =
      s"""fin AS MATERIALIZED (
         |  SELECT $last.doc_id, $last.pos, $last.n$finBench,
         |    $snapSelect
         |  FROM $last
         |$joins)""".stripMargin
    val chain =
      s"""raw AS (
         |  SELECT doc_id, source, $plant AS text FROM documents),
         |tl AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
         |       FROM raw),
         |tok AS MATERIALIZED (
         |  SELECT doc_id, i AS pos, l[i + 1] AS tok, len(l) AS n,
         |    doc_id * 1048576 + i AS gid$bench
         |  FROM (SELECT doc_id, l, unnest(range(0, len(l))) AS i FROM tl) q),
         |r0 AS MATERIALIZED (
         |  SELECT doc_id, pos, n, gid$benchCol,
         |    min(gid) OVER (PARTITION BY tok) AS r
         |  FROM tok),
         |${rounds.mkString(",\n")},
         |$fin""".stripMargin
    (chain, "fin")
  }

  /** q371's oracle: the shared chain snapshot at each ladder width,
    * then per-width eligibility/class counts and the per-source
    * rollup. */
  private[operators] def suffixDepthOracleSql(widths: Seq[Int]): String = {
    val (chain, fin) = suffixChainSql(widths, plant35 = true,
      benchFlag = false)
    val cnt = widths.map(w =>
      s"""CASE WHEN pos + $w <= n THEN 1 ELSE 0 END AS e_w$w,
         |    sum(CASE WHEN pos + $w <= n THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY r_w$w) AS c_w$w""".stripMargin)
      .mkString(",\n    ")
    val per = widths.map(w =>
      s"sum(CASE WHEN e_w$w = 1 AND c_w$w >= 2 THEN 1 ELSE 0 END)" +
        s" AS d_w$w").mkString(",\n    ")
    val agg = widths.map(w =>
      s"""CAST(sum(CASE WHEN pd.d_w$w > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_w$w,
         |  CAST(sum(pd.d_w$w) AS BIGINT) AS starts_w$w""".stripMargin)
      .mkString(",\n  ")
    s"""WITH $chain,
       |cnt AS (
       |  SELECT doc_id, pos, n,
       |    $cnt
       |  FROM $fin),
       |pd AS (
       |  SELECT doc_id,
       |    $per
       |  FROM cnt GROUP BY 1)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  $agg
       |FROM pd JOIN documents d USING (doc_id)
       |GROUP BY 1""".stripMargin
  }

  /** q372's oracle: the width-8 chain with the is_bench flag, one
    * bench-member count per class, the per-doc contamination counts,
    * and the per-source corpus rollup. */
  private[operators] def suffixContamOracleSql(width: Int): String = {
    val (chain, fin) = suffixChainSql(Seq(width), plant35 = false,
      benchFlag = true)
    s"""WITH $chain,
       |cls AS (
       |  SELECT doc_id, pos, n, is_bench,
       |    CASE WHEN pos + $width <= n THEN 1 ELSE 0 END AS e,
       |    sum(CASE WHEN pos + $width <= n AND is_bench
       |        THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY r_w$width) AS bc
       |  FROM $fin),
       |pd AS (
       |  SELECT doc_id, is_bench, sum(e) AS n_starts,
       |    sum(CASE WHEN e = 1 AND NOT is_bench AND bc >= 1
       |        THEN 1 ELSE 0 END) AS n_contam
       |  FROM cls GROUP BY 1, 2)
       |SELECT d.source,
       |  CAST(sum(CASE WHEN NOT pd.is_bench THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_corpus_docs,
       |  CAST(sum(CASE WHEN pd.is_bench THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bench_docs,
       |  CAST(sum(CASE WHEN NOT pd.is_bench AND pd.n_contam > 0
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated_docs,
       |  CAST(CASE WHEN sum(CASE WHEN NOT pd.is_bench THEN 1 ELSE 0 END) = 0
       |    THEN 0
       |    ELSE sum(CASE WHEN NOT pd.is_bench AND pd.n_contam > 0
       |        THEN 1 ELSE 0 END) * 1000000
       |      // sum(CASE WHEN NOT pd.is_bench THEN 1 ELSE 0 END) END
       |    AS BIGINT) AS contaminated_ppm,
       |  CAST(sum(CASE WHEN NOT pd.is_bench THEN pd.n_contam ELSE 0 END)
       |    AS BIGINT) AS n_contam_starts
       |FROM pd JOIN documents d USING (doc_id)
       |GROUP BY 1""".stripMargin
  }

  /** q373's oracle: the width-`width` chain, per-class eligible counts
    * AND the canonical flag (gid == class rep), coverage twice (any
    * duplicated start / any canonical duplicated start), then the
    * kept-token string per doc via ORDER BY pos string_agg — the exact
    * twin of both [[SuffixOps.trimDuplicatedSpans]] arms. */
  private[operators] def suffixTrimOracleSql(width: Int): String = {
    val (chain, fin) = suffixChainSql(Seq(width), plant35 = false,
      benchFlag = false)
    s"""WITH $chain,
       |cls AS (
       |  SELECT doc_id, pos, n,
       |    CASE WHEN pos + $width <= n THEN 1 ELSE 0 END AS e,
       |    sum(CASE WHEN pos + $width <= n THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY r_w$width) AS c,
       |    CASE WHEN doc_id * 1048576 + pos = r_w$width
       |      THEN 1 ELSE 0 END AS canon
       |  FROM $fin),
       |flg AS (
       |  SELECT doc_id, pos,
       |    max(CASE WHEN e = 1 AND c >= 2 THEN 1 ELSE 0 END)
       |      OVER covw AS cv,
       |    max(CASE WHEN e = 1 AND c >= 2 AND canon = 1
       |        THEN 1 ELSE 0 END) OVER covw AS ck
       |  FROM cls
       |  WINDOW covw AS (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN ${width - 1} PRECEDING AND CURRENT ROW)),
       |rmv AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN cv = 1 AND ck = 0 THEN 1 ELSE 0 END AS rm
       |  FROM flg)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(rm) AS BIGINT) AS n_removed,
       |  coalesce(string_agg(CASE WHEN rm = 0 THEN t.tok END, ' '
       |    ORDER BY t.pos), '') AS kept_text
       |FROM tok t JOIN rmv USING (doc_id, pos)
       |GROUP BY 1""".stripMargin
  }

  /** q374's oracle: the width-`width` chain with the reference flag,
    * one reference-member count per class, coverage over the new side
    * only (no canonical exception — the reference copy is the
    * survivor), then the kept-token string per new doc — the exact
    * twin of both [[SuffixOps.trimCrossSet]] arms. */
  private[operators] def suffixCrossTrimOracleSql(width: Int): String = {
    val (chain, fin) = suffixChainSql(Seq(width), plant35 = false,
      benchFlag = true, benchExpr = "doc_id % 5 = 0")
    s"""WITH $chain,
       |cls AS (
       |  SELECT doc_id, pos, n, is_bench,
       |    CASE WHEN pos + $width <= n THEN 1 ELSE 0 END AS e,
       |    sum(CASE WHEN pos + $width <= n AND is_bench
       |        THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY r_w$width) AS rc
       |  FROM $fin),
       |flg AS (
       |  SELECT doc_id, pos,
       |    max(CASE WHEN e = 1 AND rc >= 1 THEN 1 ELSE 0 END)
       |      OVER covw AS cv
       |  FROM cls
       |  WHERE NOT is_bench
       |  WINDOW covw AS (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN ${width - 1} PRECEDING AND CURRENT ROW))
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(cv) AS BIGINT) AS n_removed,
       |  coalesce(string_agg(CASE WHEN cv = 0 THEN t.tok END, ' '
       |    ORDER BY t.pos), '') AS kept_text
       |FROM tok t JOIN flg USING (doc_id, pos)
       |GROUP BY 1""".stripMargin
  }

  /** q316's oracle, parameterized by the planting modulus m (derived
    * from the live corpus row count via oracleDyn — q69 convention). */
  private[operators] def qgramEdOracleSql(m: Long): String = s"""
      WITH ex0 AS (
        SELECT doc_id,
          CASE WHEN doc_id % $m = 0 THEN 'zq kwxj vzpy'
               WHEN doc_id % $m = 1 THEN 'zq kwxj vzp'
               ELSE array_to_string(
                 string_split_regex(trim(text), '\\s+')[1:3], ' ')
          END AS s
        FROM documents),
      ex AS (SELECT doc_id, s FROM ex0 WHERE length(s) >= 4),
      grams AS (
        SELECT doc_id, s,
          unnest(list_distinct(list_transform(range(1, length(s)),
            i -> substr(s, CAST(i AS INT), 2)))) AS g
        FROM ex),
      df AS (SELECT g FROM (SELECT g, count(*) AS df FROM grams
             GROUP BY 1) WHERE df BETWEEN 2 AND 50),
      post AS (SELECT grams.g, grams.doc_id, grams.s
               FROM grams JOIN df USING (g)),
      gsz AS (SELECT doc_id, count(*) AS ng FROM post GROUP BY 1),
      cand AS (
        SELECT p1.doc_id AS a, p2.doc_id AS b, p1.s AS sa, p2.s AS sb,
          count(*) AS shared
        FROM post p1 JOIN post p2
          ON p2.g = p1.g AND p1.doc_id < p2.doc_id
        GROUP BY 1, 2, 3, 4),
      fil AS (
        SELECT cand.a, cand.b, cand.sa, cand.sb
        FROM cand
        JOIN gsz ga ON ga.doc_id = cand.a
        JOIN gsz gb ON gb.doc_id = cand.b
        WHERE cand.shared >= greatest(ga.ng, gb.ng) - 2
          AND greatest(length(cand.sa) - length(cand.sb),
            length(cand.sb) - length(cand.sa)) <= 1)
      SELECT a AS doc_a, b AS doc_b,
        CAST(levenshtein(sa, sb) AS BIGINT) AS dist
      FROM fil
      WHERE levenshtein(sa, sb) <= 1
      ORDER BY dist ASC, doc_a ASC, doc_b ASC
      LIMIT 20"""
}
