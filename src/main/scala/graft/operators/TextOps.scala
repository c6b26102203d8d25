package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, shingling, quality scoring, dictionary language-ID,
  * canonical fingerprinting. All row-local `Column` compositions — zero
  * shuffles, fully codegen'd, so they scale linearly with input splits.
  */
object TextOps {

  /** Whitespace tokenizer (the baseline for token counting; a BPE-ish
    * regex variant is [[bpeTokens]]). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword splitter: words, numbers, and single punctuation
    * marks as separate tokens (GPT-2-style pre-tokenization regex,
    * simplified to ASCII). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))

  /** Word n-gram shingles (1-based `element_at`); empty array when the
    * document has fewer than `n` tokens.
    *
    * The token array is bound ONCE through a lambda variable before any
    * element_at touches it. Callers pass an unmaterialized expression
    * (usually `split(trim(text))`), and higher-order functions evaluate
    * interpreted with NO subexpression elimination — referencing `toks`
    * directly inside the gram lambda re-ran the full regex split for
    * EVERY element_at (n splits of the whole document per gram,
    * quadratic in doc length; measured 1.56 s -> 22.5 s on q77 at
    * sf0.1 before the binding). */
  def shingles(toks: Column, n: Int = 3): Column = {
    def grams(tk: Column) = transform(
      sequence(lit(1), size(tk) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(tk, i + o)): _*))
    flatten(transform(array(toks), tk =>
      when(size(tk) < n, array().cast("array<string>")).otherwise(grams(tk))))
  }

  /** Distinct-shingle set — the unit for Jaccard/MinHash dedup. */
  def shingleSet(text: Column, n: Int = 3): Column =
    array_distinct(shingles(tokens(text), n))

  /** Canonical document fingerprint: md5 of lowercased,
    * whitespace-collapsed text. Equal fingerprints ⇔ exact duplicates
    * modulo case/whitespace. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Un-rounded composite quality in [0,1]: length credit (tokens/50
    * capped), alphabetic ratio, stopword-presence credit. Callers that
    * compare or bucket this value should quantize with floor (portable
    * across engines), not round (see BASELINE.md's round(double,N)
    * note). */
  def qualityRaw(text: Column,
                 stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")): Column = {
    val ntok = tokenCount(text).cast("double")
    val len = length(text).cast("double")
    val alpha = length(regexp_replace(text, "[^a-z]", "")).cast("double")
    val stopHits = size(regexp_extract_all(text,
      lit("\\b(" + stopwords.mkString("|") + ")\\b"), lit(0))).cast("double")
    least(lit(1.0), ntok / 50.0) * 0.5 +
      (alpha / len) * 0.3 +
      least(lit(1.0), stopHits / 10.0) * 0.2
  }

  /** [[qualityRaw]] rounded to 6 dp — the reporting form (q28). */
  def qualityScore(text: Column,
                   stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")): Column =
    round(qualityRaw(text, stopwords), 6)

  /** Relational shingle stream: one row per (id, pos, shingle), built
    * ROW-LOCALLY — grams assemble per document via [[shingles]] and
    * posexplode, so the stream needs NO exchange at all. The round-1
    * form computed the same grams with posexplode + lead() over a
    * doc-keyed window, which shuffled and sorted the ENTIRE tokenized
    * corpus once per consumer (~20 call sites; at the 100 TB grade
    * that is a full corpus-sized exchange each) — the round-1 A/B
    * that motivated it actually measured minhash/simhash-as-HOF, not
    * the shingle assembly (BASELINE.md round-1 table; A/B numbers for
    * THIS change alone are in OPTIMIZATION_r15.md). The transform
    * lambda is interpreted per gram, but per-gram concat is cheap —
    * orders of magnitude under the exchange + sort it replaces. */
  def shingleRows(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, n: Int = 3): org.apache.spark.sql.DataFrame =
    df.select(col(idCol),
      posexplode(shingles(tokens(col(textCol)), n)).as(Seq("__pos", "shingle")))

  /** Distinct (id, shingle) stream with ZERO exchanges: the dedup key
    * contains the doc id, so "distinct per corpus" IS "distinct per
    * document" — array_distinct inside the row replaces the
    * corpus-wide `.distinct()` whose exchange shipped every gram
    * string to a shuffle (round-15 opt; the pre-r15 form additionally
    * paid the shingleRows window exchange). Consumers that aggregate
    * downstream (per-doc sizes, per-shingle dfs, MinHash signatures)
    * now meet their FIRST exchange only at a map-side-combined agg. */
  def distinctShingleRows(df: org.apache.spark.sql.DataFrame, idCol: String,
                          textCol: String, n: Int = 3): org.apache.spark.sql.DataFrame =
    df.select(col(idCol),
      explode(array_distinct(shingles(tokens(col(textCol)), n))).as("shingle"))

  /** Window width, in tokens, of the substring-dedup family. */
  val windowTokens = 8

  /** Distinct rolling [[windowTokens]]-token windows per document — the
    * shared frame behind the substring-dedup family (q77 profile, q100's
    * gate, q103 excerpt pairs). One definition so the window shape cannot
    * drift between the three. */
  def distinctWindows(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String): org.apache.spark.sql.DataFrame =
    distinctShingleRows(df, idCol, textCol, windowTokens)

  /** A document's [[distinctWindows]] row count as a row-local long (the
    * q31 convention: size(array_distinct(grams)) per row, no explode and
    * no per-doc aggregate); 0 for a text shorter than the window. */
  def windowCount(text: Column): Column =
    coalesce(size(array_distinct(shingles(tokens(text), windowTokens))), lit(0))
      .cast("long")

  /** Per-document count `nu` of the windows no other document shares,
    * from a [[distinctWindows]] frame. The window-keyed count carries
    * min(id), which is the owner of every window with count 1, so both
    * aggregates are map-side combined over window-vocabulary-sized frames
    * and the corpus rows never cross a join. A document without such a
    * window has no row. */
  def uniqueWindowCounts(wins: org.apache.spark.sql.DataFrame,
                         idCol: String): org.apache.spark.sql.DataFrame =
    wins.groupBy(col("shingle"))
      .agg(count(lit(1)).as("wdf"), min(col(idCol)).as("d0"))
      .filter(col("wdf") === 1)
      .groupBy(col("d0").as(idCol)).agg(count(lit(1)).as("nu"))

  /** Row-local chunking of a token array: chunk k is
    * `slice(toks, k * stride + 1, width)` for k in 0 to
    * (size(toks) - 1) div stride, and `chunk` maps each slice to the
    * element emitted for it. The result is the array of those elements
    * in chunk order (posexplode gives (chunk id, element)); an empty
    * token array gives one empty slice. No exchange at any size: a long
    * document is one row's work, never one group of a wide aggregate.
    * The tokens are bound once through a lambda variable, so an
    * unmaterialized `toks` is evaluated once per row, not per chunk. */
  def chunks(toks: Column, stride: Int, width: Int)(chunk: Column => Column): Column =
    flatten(transform(array(toks), tk =>
      transform(sequence(lit(0), call_function("div", size(tk) - 1, lit(stride))),
        k => chunk(slice(tk, k * stride + 1, lit(width))))))

  /** Corpus frequency of each window, attached to the window rows via
    * groupBy + join-back on the window key (round-15 opt — the repo's
    * q77/agg convention): the count aggregates with map-side partial
    * combine (one row per distinct window per map task) and the join
    * back is AQE-skew-splittable, where the previous
    * `count() over Window.partitionBy(shingle)` form funneled every
    * occurrence of a hot boilerplate window into ONE WindowExec task
    * (no partial agg, no AQE skew handling — the exact shape the
    * round-14 verdict flagged in SuffixOps). The round-9 "window form
    * 1.6x faster" A/B predates the row-local distinct stream; re-A/B
    * at round 15 (q77/q100/q103, paired medians): window form 7.02 s
    * sum vs join-back 7.10 s — parity locally (and fewer shuffle
    * bytes: q77 8.3 -> 7.0 MB), strictly safer at 100 TB.
    *
    * COST NOTE (round-15 ADVICE): `wins` appears on BOTH sides of the
    * join, so its lineage (tokenize + shingle + array_distinct +
    * explode) is evaluated TWICE when unpersisted — the old single-pass
    * window computed it once. The doubled upstream CPU is the price of
    * skew safety here; callers that can afford the memory may pass a
    * persisted frame. */
  def withWindowFreq(wins: org.apache.spark.sql.DataFrame,
                     out: String = "wdf"): org.apache.spark.sql.DataFrame = {
    val freq = wins.groupBy(col("shingle")).agg(count(lit(1)).as(out))
    wins.join(freq, "shingle")
  }

  /** Dictionary-hit language/topic ID: count word-boundary hits per
    * dictionary, pick the argmax with first-listed-wins tie-breaking
    * (a deterministic CASE chain — no UDF, same plan at any scale). */
  def langId(text: Column, dicts: Seq[(String, Seq[String])]): Column = {
    require(dicts.nonEmpty)
    val hits = dicts.map { case (name, words) =>
      name -> size(regexp_extract_all(text,
        lit("\\b(" + words.mkString("|") + ")\\b"), lit(0)))
    }
    hits.zipWithIndex.init.foldRight(lit(hits.last._1): Column) {
      case (((name, h), i), elseCol) =>
        val rest = hits.drop(i + 1).map(_._2)
        when(rest.map(h >= _).reduce(_ && _), lit(name)).otherwise(elseCol)
    }
  }
}
