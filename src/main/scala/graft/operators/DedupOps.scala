package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash
  * groupBy), SimHash (row-local signature + banded hamming pairs),
  * MinHash+LSH (shingle → signature → band bucket join), and the exact
  * prefix-filtered Jaccard self-join ([[jaccardPairs]]).
  *
  * Scale notes (100 TB):
  *  - signatures are row-local (no shuffle); candidate generation shuffles
  *    on band hash, whose cardinality ≫ executor count;
  *  - LSH bucket join caps bucket size ([[lshCandidates]]'s maxBucket) so
  *    a degenerate key cannot produce an O(n²) bucket;
  *  - candidates come from equi-joins or posting lists, never a nested loop.
  */
object DedupOps {

  /** Exact dedup: group by a key expression (e.g. [[TextOps.fingerprint]]),
    * keep the minimum id as canonical. One shuffle with map-side partial
    * aggregation. */
  def exactDedup(df: DataFrame, keyCol: Column, idCol: Column): DataFrame =
    df.groupBy(keyCol.as("dup_key"))
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Engine-independent 32-bit token hash: first 8 hex digits of md5,
    * parsed positionally — reproducible in any SQL engine (used so the
    * DuckDB oracle can recompute SimHash and MinHash exactly). */
  private[operators] def hv32Sql(tokenVar: String): String =
    hv32FromHexSql(s"md5($tokenVar)")

  /** Positional parse of a PRE-COMPUTED md5 hex column. The `md5($x)`
    * form above textually repeats the digest 8 times (once per hex
    * position); projection codegen CSEs that to one call, but aggregate
    * expressions do NOT — so hash-heavy aggregates must materialize the
    * digest in a projection first and parse it with this form
    * (measured: 37.6 s -> ~3 s for minhash at sf0.1). */
  private[operators] def hv32FromHexSql(hexVar: String): String =
    // conv() parses the 8-digit hex prefix in one call — value-identical
    // to the positional instr() chain the DuckDB oracles replay
    // (DedupQueries.hvDuckOf keeps that form; DuckDB has no conv), but
    // one expression instead of 8 substr+instr+multiply terms per hash
    // (round-10: q149's 3-hash probe over 600k lineitem rows)
    s"cast(conv(substr($hexVar, 1, 8), 16, 10) as bigint)"

  /** 60-bit widening of the positional-md5 value (15 hex chars — see
    * [[simhash60FromTokenRows]] for why 60 and not 64). */
  private[operators] def hv60Sql(tokenVar: String): String =
    s"cast(conv(substr(md5($tokenVar), 1, 15), 16, 10) as bigint)"

  /** Append k salted positional-md5 bucket columns `b0..b{k-1}` =
    * `hv32(md5(col || ':' || j)) % mod` — the ONE definition of the
    * hash-position family shared by the Bloom filter (q81) and
    * count-min sketch (q86) builds, so the family (and its DuckDB
    * replay, [[DedupQueries.hvDuckOf]]) cannot drift per query. */
  private[operators] def md5Buckets(df: DataFrame, c: Column, k: Int,
                                    mod: Int): DataFrame =
    (0 until k).foldLeft(df) { (acc, j) =>
      acc.withColumn(s"__h$j", md5(concat(c, lit(s":$j"))))
        .withColumn(s"b$j", expr(s"(${hv32FromHexSql(s"__h$j")}) % $mod"))
        .drop(s"__h$j")
    }

  /** Column form of [[hv32Sql]] — usable inside higher-order-function
    * lambdas where SQL-string expressions can't capture the lambda
    * variable. Single conv() parse of the 8-digit hex prefix (round-15
    * opt): the previous positional array_position chain referenced
    * `md5(tok)` once per hex digit, and HOF lambdas get no
    * subexpression elimination — 8 digests per hash. Value-identical
    * to [[hv32FromHexSql]] (same conv form). */
  private[operators] def hv32Col(tok: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long")

  /** 32-bit SimHash from a token-row stream (one row per (id, token),
    * duplicates kept — each occurrence votes): 32 codegen'd conditional
    * sums with map-side partial aggregation, one shuffle on the id.
    * A row-local nested-HOF variant was 20× slower at sf0.1 (higher-order
    * functions are interpreted per element) — this is both the local-bench
    * and the 100 TB shape. Docs with zero tokens produce no output row. */
  def simhash32FromTokenRows(tokenRows: DataFrame, idCol: String,
                             tokCol: String, out: String): DataFrame =
    simhashFromTokenRows(tokenRows, idCol, tokCol, out, 32, hv32Sql(tokCol))

  /** 60-bit SimHash — the band-saturation fix for the wide-hamming pair
    * family. Pigeonhole banding gives a hamming≤3 join maxHamming+1 = 4
    * bands; on a 32-bit signature that is 8-bit bands with only 256
    * possible values, so band-bucket occupancy — and candidate pairs,
    * QUADRATICALLY — grows with corpus size once n >> 4·256 (the sf1
    * byte accounting measured q296's candidate shuffle at 124× for 10×
    * data: textbook saturation). 60 bits = 15 md5 hex chars, the widest
    * prefix exact in SIGNED 64-bit arithmetic in every engine (DuckDB
    * BIGINT refuses to wrap, so the full digest is out); 15-bit bands
    * give 32768 values each — occupancy stays ~1 to ~10⁷ docs, and past
    * that the same construction widens again (holdout: 124-bit/31-bit
    * bands via two BIGINT lanes) rather than changing shape. */
  def simhash60FromTokenRows(tokenRows: DataFrame, idCol: String,
                             tokCol: String, out: String): DataFrame =
    simhashFromTokenRows(tokenRows, idCol, tokCol, out, 60, hv60Sql(tokCol))

  private def simhashFromTokenRows(tokenRows: DataFrame, idCol: String,
      tokCol: String, out: String, bits: Int, hvSql: String): DataFrame = {
    val withHv = tokenRows.withColumn("__hv", expr(hvSql))
    val bitSums = (0 until bits).map(i =>
      sum(expr(s"if((shiftright(__hv, $i) & 1L) = 1L, 1L, -1L)")).as(s"__b$i"))
    withHv.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .withColumn(out,
        (0 until bits).map(i =>
          when(col(s"__b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _))
      .drop((0 until bits).map("__b" + _): _*)
  }

  /** Pigeonhole band table for a simhash column: `maxHamming + 1`
    * contiguous bit-bands per signature, so any pair within the Hamming
    * budget MUST agree exactly on at least one band — candidate
    * generation becomes an equi-join on `(band, bv)`, never a
    * quadratic scan. Shared by the self-pair form below and the
    * cross-set (benchmark-vs-corpus) decontamination join. */
  def simhashBanded(sigs: DataFrame, idCol: String, sigCol: String,
                    maxHamming: Int, bits: Int = 32): DataFrame = {
    val nBands = maxHamming + 1
    val width = bits / nBands
    val bandCols = (0 until nBands).map { i =>
      val lo = i * width
      val len = if (i == nBands - 1) bits - lo else width
      val mask = (1L << len) - 1
      struct(lit(i).as("band"),
        expr(s"shiftright($sigCol, $lo) & ${mask}L").as("bv"))
    }
    sigs.select(col(idCol), col(sigCol),
      explode(array(bandCols: _*)).as("b"))
      .select(col(idCol), col(sigCol), col("b.band"), col("b.bv"))
  }

  /** Band-saturation HEADROOM for a pigeonhole banding config: the
    * ratio of a band's value space (2^bandWidth) to the corpus size.
    * Expected bucket occupancy is its inverse, so headroom <= ~1 means
    * every bucket holds >= 1 doc on average and the candidate
    * equi-join's output grows QUADRATICALLY with the corpus — the
    * q296 failure class the round-13 shuffle audit caught (32-bit /
    * 8-bit bands saturating at n ~ 1k). Boundaries this implies:
    * the 32-bit maxHamming=1 form (2 bands x 16 bits) saturates at
    * n ~ 2^16 = 65,536 docs; the 60-bit form (2 bands x 30 bits) at
    * n ~ 2^30 — 16,384x later. Catalog consumers of the 32-bit form
    * run at corpus sizes with >= 12x headroom at sf1; a deployment
    * past the boundary must switch to the 60-bit signature
    * ([[simhash60FromTokenRows]]), which is shape-preserving.
    * BandSaturationSpec pins both the arithmetic and the empirical
    * regime crossing on a generated corpus. */
  def bandHeadroom(nDocs: Long, bits: Int, maxHamming: Int): Double = {
    val width = bits / (maxHamming + 1)
    math.pow(2.0, width) / nDocs.toDouble
  }

  /** Hamming-threshold self-join via pigeonhole banding — EXACT (not
    * approximate): split the `bits`-bit signature into `maxHamming + 1`
    * disjoint bit-bands; a pair within `maxHamming` differs in at most
    * `maxHamming` bands and therefore matches EXACTLY on ≥ 1 band.
    * Candidates come from hash equi-joins on (band, band_value) instead
    * of an O(n²) nested loop; exact hamming verifies them. Shuffles on
    * the band value — DedupSpec pins it to the brute hamming join. */
  def simhashPairsBanded(sigs: DataFrame, idCol: String, sigCol: String,
                         maxHamming: Int, bits: Int = 32): DataFrame = {
    // The band table feeds BOTH sides of the candidate equi-join below
    // with DIFFERENT projections (doc_a/sig_a vs doc_b/sig_b), so
    // Catalyst's ReuseExchange cannot canonicalize the two exchanges
    // into one — without a persist, the entire upstream (scan →
    // tokenize → simhash agg → band explode) runs twice, and under
    // full-catalog memory pressure the driver bench measured that
    // recompute at up to 8× the clean-run median (round-9 q69/q209
    // adjudication). The cached frame is 4 narrow columns × (maxHamming
    // + 1) rows per doc — linear, evictable, released by the harness's
    // per-query clearCache.
    val banded = simhashBanded(sigs, idCol, sigCol, maxHamming, bits).persist()
    val cands = banded
      .select(col(idCol).as("doc_a"), col(sigCol).as("sig_a"),
        col("band"), col("bv"))
      .join(banded.select(col(idCol).as("doc_b"), col(sigCol).as("sig_b"),
        col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
      .distinct()
    cands
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }

  /** MinHash universal-hash family (Broder's construction): one
    * engine-independent base hash per shingle ([[hv32Sql]] — positional
    * md5), then `h_i(x) = (a_i * (h(x) mod p) + b_i) mod p` with
    * deterministic odd multipliers. ONE md5 per shingle instead of k —
    * the k salted-md5 form cost 16 digests per shingle row (~7 s for
    * q36 at sf0.1; this form ~1 s). `p = 2^31 - 1` keeps every product
    * below 2^62, so the same BIGINT arithmetic is exact in any engine.
    */
  private[operators] val minhashP = 2147483647L // 2^31 - 1, prime
  private[operators] def minhashA(i: Int): Long =
    (i * 2654435761L) % (minhashP - 1) + 1
  private[operators] def minhashB(i: Int): Long =
    (i * 40503L + 17L) % minhashP

  /** MinHash signature (k universal hash functions) over a distinct
    * shingle-set column. Row-local; recomputable in external SQL.
    * Prefer [[minhashSignatures]] (explode form) for large inputs —
    * HOFs interpret per element. */
  def minhashSignature(shingleSet: Column, k: Int): Column = {
    val hvs = transform(shingleSet, s => hv32Col(s) % minhashP)
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(hvs,
        h => (h * ((i.cast("long") * 2654435761L) % (minhashP - 1) + 1) +
          (i.cast("long") * 40503L + 17L) % minhashP) % minhashP)))
  }

  /** MinHash signatures from a distinct shingle-row stream: one base
    * hash per row materialized in a projection (aggregate expressions
    * get no subexpression elimination — never put the md5 there), then
    * k integer min-aggregates (map-side partial min) and one shuffle on
    * the id — the scale path. Identical hash family to
    * [[minhashSignature]], recomputable in DuckDB SQL.
    * Output: (id, sig array<long>). */
  def minhashSignatures(shingleRows: DataFrame, idCol: String,
                        shingleCol: String, k: Int): DataFrame = {
    val withHv = shingleRows.select(col(idCol),
      (expr(hv32Sql(shingleCol)) % minhashP).as("__hv"))
    val aggs = (0 until k).map(i =>
      min((col("__hv") * minhashA(i) + minhashB(i)) % minhashP).as(s"__h$i"))
    withHv.groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("sig", array((0 until k).map(i => col(s"__h$i")): _*))
      .select(col(idCol), col("sig"))
  }

  /** LSH banding: explode a MinHash signature into (band_id, band_hash)
    * rows; docs sharing any band bucket are candidates. The bucket key
    * is the band's value string (not an engine hash of it) — same
    * shuffle cardinality, deterministic across engines; a 4-long band
    * key is a few dozen bytes, so the wider shuffle key is noise. */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
               bands: Int, rows: Int): DataFrame = {
    val bandIdx = explode(sequence(lit(0), lit(bands - 1))).as("band_id")
    df.select(col(idCol), col(sigCol), bandIdx)
      .withColumn("band_hash", concat_ws(",", expr(
        s"transform(slice($sigCol, band_id * $rows + 1, $rows), x -> cast(x AS string))")))
      .select(col(idCol), col("band_id"), col("band_hash"))
  }

  /** Candidate pairs from band buckets (shuffle on band_hash only).
    * `maxBucket` guards against degenerate buckets turning quadratic. */
  def lshCandidates(bandTable: DataFrame, idCol: String,
                    maxBucket: Int = 1000): DataFrame = {
    val buckets = bandTable
      .groupBy("band_id", "band_hash")
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    buckets
      .select(explode(PairOps.pairs(col("ids"), "a", "b",
        (x, y) => (least(x, y), greatest(x, y)))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
  }

  /** Sorted-neighborhood entity-resolution pairs with a HOT-BLOCK CAP.
    *
    * Classic SNM: block on a key prefix, sort within the block, compare
    * each row to its lag-1/lag-2 neighbors (≤2 comparisons per row).
    * Spark's window executor serializes each partition key into ONE
    * task, so an unbounded hot prefix (every title starting "the best
    * ...") would funnel millions of rows through a single thread.
    *
    * The cap: block sizes are counted first (map-side-combined agg, one
    * row per prefix); prefixes above `blockCap` rows — at most n/blockCap
    * of them exist, so the hot set is broadcastable by construction —
    * re-block on a LONGER prefix (`prefixLen + extLen` chars). Rows that
    * stay near-identical share the longer prefix and remain comparable;
    * the pairs lost are those differing inside the extension window,
    * the standard recall/cost trade of capped blocking (documented in
    * the sorted-neighborhood literature as multi-pass/adaptive SNM).
    * Fully relational, so a SQL oracle replays the same blocks.
    */
  def sortedNeighborhoodPairs(titles: DataFrame, idCol: String,
      titleCol: String, maxDist: Int = 3, prefixLen: Int = 6,
      extLen: Int = 6, blockCap: Int = 10000): DataFrame = {
    val id = col(idCol)
    val title = col(titleCol)
    val pfx = substring(title, 1, prefixLen)
    val hot = titles.groupBy(pfx.as("__pfx"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > blockCap)
      .select(col("__pfx"), lit(true).as("__hot"))
    // hot set is ≤ n/blockCap rows (one per over-cap block) — sublinear
    // but still corpus-growing, so the broadcast is size-guarded: above
    // the cap the hint drops and the join shuffles
    val blocked = titles
      .join(CorpusOps.boundedBroadcast(hot, what = "SNM hot prefixes"),
        pfx === col("__pfx"), "left_outer")
      .withColumn("__block",
        when(col("__hot"), substring(title, 1, prefixLen + extLen))
          .otherwise(pfx))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__block")).orderBy(title.asc, id.asc)
    val lagged = blocked
      .withColumn("__t1", lag(title, 1).over(w))
      .withColumn("__i1", lag(id, 1).over(w))
      .withColumn("__t2", lag(title, 2).over(w))
      .withColumn("__i2", lag(id, 2).over(w))
    def pairs(tc: String, ic: String) = lagged
      .filter(col(tc).isNotNull && levenshtein(title, col(tc)) <= maxDist)
      .select(least(id, col(ic)).as("doc_a"),
        greatest(id, col(ic)).as("doc_b"),
        levenshtein(title, col(tc)).cast("long").as("dist"))
    pairs("__t1", "__i1").unionByName(pairs("__t2", "__i2"))
      .groupBy(col("doc_a"), col("doc_b")).agg(min(col("dist")).as("dist"))
  }

  /** Exact Jaccard >= `tau` self-join over (id, distinct-element array):
    * PPJoin's prefix filter, then exact verification. Each set is
    * ordered by global (df, element); two sets with J >= tau share an
    * element of their prefixes, the first |S| - ceil(tau·|S|) + 1
    * (pigeonhole), so pairing each prefix element's sorted posting list
    * ([[PairOps.pairs]]) finds every such pair with no nested loop.
    * Output: (a, b, inter, size_a, size_b), a < b, one row per distinct
    * candidate, NOT filtered by `tau` — the caller applies its exact test
    * on union = size_a + size_b - inter. Empty sets are never candidates.
    * `dfCap` drops join elements with df above it (C(cap, 2) pairs per
    * posting at most) and is exact only when absent. `tau` enters as a
    * decimal: ceil(0.55 · 100) is 55, not ceil of the double 55.00000000000001.
    * The per-set frame is persisted: the postings and both verification
    * sides read it. */
  def jaccardPairs(sets: DataFrame, idCol: String, setCol: String,
                   tau: Double, dfCap: Option[Long] = None): DataFrame = {
    val elems = sets.select(col(idCol).as("__id"), explode(col(setCol)).as("__e"))
    val df = elems.groupBy(col("__e")).agg(count(lit(1)).as("__df"))
    val ord = elems.join(df, "__e").groupBy(col("__id"))
      .agg(array_sort(collect_list(struct(col("__df"), col("__e")))).as("__dt"))
      .withColumn("__sz", size(col("__dt")).cast("long"))
      .persist()
    val prefixLen = col("__sz") - ceil(lit(BigDecimal(tau)) * col("__sz")) + 1
    val pref = ord.select(col("__id"),
      explode(slice(col("__dt"), lit(1), prefixLen.cast("int"))).as("__p"))
    val capped = dfCap.fold(pref)(c => pref.filter(col("__p.__df") <= c))
    val cand = capped.groupBy(col("__p.__e"))
      .agg(sort_array(collect_list(col("__id"))).as("__ids"))
      .select(explode(PairOps.pairs(col("__ids"), "a", "b")).as("__pr"))
      .select(col("__pr.a").as("a"), col("__pr.b").as("b")).distinct()
    def side(s: String) = ord.select(col("__id").as(s),
      expr("transform(__dt, x -> x.__e)").as(s"__l$s"), col("__sz").as(s"size_$s"))
    cand.join(side("a"), "a").join(side("b"), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("__la"), col("__lb"))).cast("long").as("inter"),
        col("size_a"), col("size_b"))
  }
}
