package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * downstream of dedup/scoring: duplicate-cluster resolution (connected
  * components), benchmark decontamination, PII redaction, deterministic
  * stratified sampling, and sequence packing.
  *
  * Scale notes (100 TB):
  *  - [[connectedComponents]] is the alternating large-star/small-star
  *    algorithm (Kiveris et al., "Connected Components in MapReduce and
  *    Beyond"): O(log n) rounds regardless of component diameter, each
  *    round two shuffles on node id with `min` aggregates only — no
  *    per-node adjacency lists are ever collected;
  *  - decontamination broadcasts the benchmark shingle set (benchmark
  *    suites are fixed and small relative to the corpus);
  *  - sampling and packing are window/filter plans: one shuffle on the
  *    stratum/stream key, codegen'd end to end.
  */
object CorpusOps {

  /** Exact global top-K with a PARALLEL prefilter. A bare
    * `Window.orderBy(...)` (no partition) funnels the whole input
    * through one task — fine for 1k rows, a scale-killer when the input
    * is a vocabulary/frequency table that grows with the corpus. This
    * first takes the top-K within each of `buckets` hash-buckets of
    * `bucketKey` (parallel, bounded window state), then sorts only the
    * ≤ K×buckets survivors globally. Exact: every global top-K row is
    * by definition in its own bucket's top-K, so the prefilter can
    * never drop a winner. `order` must embed a unique tiebreak for a
    * deterministic result (repo-wide rule).
    */
  /** Broadcast `df` only if it is provably small at runtime.
    *
    * A bare `broadcast()` hint pins its side into every executor AND
    * the driver regardless of size — correct for genuinely-bounded
    * frames (an eval suite, a model), an OOM when a caller mis-wires a
    * corpus-proportional frame. This guard counts the frame first (the
    * intended inputs are benchmark/eval-sized, so the count is one tiny
    * job over an already-persisted frame) and falls back to NO hint —
    * letting the planner pick a shuffled join — above `maxRows`, with a
    * warning. The frame is persisted (evictable, lineage kept) so the
    * count and the subsequent join share one computation.
    *
    * Production decontamination (reference pattern: held-out benchmark
    * suites vs a training corpus) passes the BENCHMARK side here; those
    * are 10^3..10^5 items — orders of magnitude under the default cap
    * at any corpus scale. */
  def boundedBroadcast(df: DataFrame, maxRows: Long = 1000000L,
                       what: String = "frame"): DataFrame = {
    val pinned = df.persist()
    val n = pinned.count()
    if (n <= maxRows) broadcast(pinned)
    else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"boundedBroadcast: $what has $n rows > cap $maxRows; " +
          "dropping the broadcast hint (shuffled join) to protect the driver")
      pinned
    }
  }

  /** Registry-graph driver gate — [[connectedComponents]]'s small-N
    * fast path, generalized for the iterative graph/matrix family
    * (k-core, label propagation, BFS, SSSP, power iteration, …).
    *
    * Those queries all share one shape: ONE corpus-collapsing
    * distributed agg produces a VALUE-DOMAIN-BOUNDED frame (a mod-k
    * node space's edge list — ≤ C(k,2) rows at ANY corpus size; an
    * 8×8 covariance block), then a fixed number of iteration rounds
    * runs on it. Distributed BSP rounds on a ≤10^4-row frame are pure
    * scheduler overhead (measured: q193_kcore 3.7 s of which ~0.4 s is
    * the corpus agg — 15+ jobs for a 2016-edge peel); below the cap the
    * iteration belongs on the driver, and ABOVE it the caller's
    * distributed loop runs unchanged — same contract as
    * connectedComponents' union-find path.
    *
    * Returns the collected rows when `df` fits under
    * `spark.graft.graph.maxDriverRows` (default 1e6), else None. One
    * limit-bounded job; a None caller recomputes df for its distributed
    * loop (the rare branch — these frames are bounded by construction,
    * so the cap only trips if a caller widens the node domain). */
  def boundedRows(df: DataFrame): Option[Array[org.apache.spark.sql.Row]] = {
    val cap = maxDriverRows(df.sparkSession)
    val upTo = math.min(cap + 1, (Int.MaxValue - 1).toLong).toInt
    // persist BEFORE the probe job: on the above-cap (None) path the
    // caller's distributed loop then reuses what the probe materialized
    // instead of recomputing the corpus-collapsing stage from scratch —
    // the probe must not DOUBLE the most expensive stage in exactly the
    // case the fallback exists for (round-11 ADVICE). Honest cost ledger
    // (round-12 ADVICE): the limit(upTo) probe caches only the
    // partitions it actually scanned, so the None caller's reuse is
    // PARTIAL — its first action fills the rest (a persisted frame
    // recomputes+caches missing partitions transparently) and every
    // later round hits cache; and on the common below-cap path the probe
    // scans ALL partitions to exhaust the frame, so we pay one full
    // cache write that's immediately unpersisted — cheap for the
    // ≤maxDriverRows frames this gate admits, and the price of never
    // double-running the corpus agg on the branch that matters at scale.
    // Released on the driver path; left resident for the None caller
    // (its loop consumes it repeatedly, and a redundant caller-side
    // persist() at the same level is a no-op).
    val preCached = df.storageLevel.useMemory || df.storageLevel.useDisk
    if (!preCached) df.persist()
    val rows = df.limit(upTo).collect()
    if (rows.length <= cap) {
      if (!preCached) df.unpersist(blocking = false)
      Some(rows)
    } else None
  }

  /** The one driver-arm cap of the two-path operators ([[boundedRows]],
    * [[connectedComponents]]' union-find): `spark.graft.graph.maxDriverRows`,
    * default 1e6. */
  def maxDriverRows(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.graph.maxDriverRows").map(_.toLong)
      .getOrElse(1000000L)

  def globalTopK(df: DataFrame, bucketKey: Column, k: Int,
                 order: Seq[Column], buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wB = Window.partitionBy(pmod(hash(bucketKey), lit(buckets)))
      .orderBy(order: _*)
    val wG = Window.orderBy(order: _*)
    df.withColumn("__brk", row_number().over(wB)).filter(col("__brk") <= k)
      .withColumn("__rk", row_number().over(wG)).filter(col("__rk") <= k)
      .drop("__brk", "__rk")
  }

  /** Materialize an iteration frontier, truncating its lineage.
    *
    * Default: eager `localCheckpoint` — blocks live in executor storage,
    * no extra infrastructure, fast. The trade: those blocks are NOT
    * recomputable (lineage is truncated) and die with their executor,
    * so an executor loss mid-loop fails the whole job. Acceptable for
    * interactive/short runs; NOT for an hours-long 1000-executor run
    * where churn is routine.
    *
    * Set `spark.graft.checkpointDir` to a shared-filesystem path
    * (HDFS/S3) to switch every iterative plan to RELIABLE
    * `DataFrame.checkpoint`: each round's frontier is written to the
    * checkpoint dir, survives any executor loss, and costs one
    * distributed write per round — the standard durability/latency
    * trade for iterative algorithms. Same plan shape either way.
    */
  private[graft] def materializeFrontier(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) if dir.nonEmpty =>
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case _ => df.localCheckpoint(true)
    }
  }

  /** Connected components over an undirected edge list (`a`, `b` long
    * ids). Returns ("node", "comp") for every node that appears in a
    * non-degenerate edge (self-loops `a == b` are dropped up front and
    * contribute no label) — including each component's root, which
    * labels itself (node == comp) — where comp is the component's
    * minimum node id. Callers labeling a full table use
    * [[componentLabels]], whose coalesce also covers isolated and
    * self-loop-only nodes.
    *
    * Alternating large-star/small-star with an edge-set fixpoint test.
    * Each iteration's frontier is materialized ([[materializeFrontier]]):
    * iterative DataFrame plans otherwise grow a lineage that re-executes
    * every prior round per action. Set `spark.graft.checkpointDir` for
    * reliable checkpoints on long cluster runs (executor-loss semantics
    * documented on [[materializeFrontier]]).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    var e = materializeFrontier(edges
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .filter($"a" =!= $"b")
      .distinct())

    // Small-N fast path (the writeSingle/mergeSharded precedent): a near-dup
    // edge set far smaller than the corpus is the common case, and the
    // iterative loop's fixed cost (2 jobs x O(log n) rounds) dominates it.
    // The edge set is already materialized, so the count is free; below the
    // bounded threshold, union-find on the driver replaces ~10 scheduler
    // round-trips with one collect. Above it (billions of edges at 100 TB),
    // the distributed star loop below runs unchanged.
    if (e.count() <= maxDriverRows(spark)) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      // iterative find (walk to root, then compress): recursion here can
      // exceed JVM stack depth on path-shaped components whose edges
      // arrive in descending order — edge order is not ours to control.
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      val nodes = scala.collection.mutable.LongMap.empty[Unit]
      e.collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        nodes(a) = (); nodes(b) = ()
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = nodes.keys.toArray.map(k => (k, find(k)))
      return spark.createDataFrame(labels.toIndexedSeq).toDF("node", "comp")
    }
    // (count, xor-of-hash ×2 seeds): a cheap order-independent edge-set
    // digest — one action per round instead of two except() scans, and
    // xor (unlike sum) cannot overflow under ANSI arithmetic.
    def digest(df: DataFrame): (Long, Long, Long) = {
      val r = df.agg(
        count(lit(1)).cast("long"),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L)),
        coalesce(expr("bit_xor(xxhash64(b, a, 7L))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    var prev = digest(e)
    var iter = 0
    var converged = e.isEmpty
    while (!converged && iter < maxIter) {
      // large-star: per node u over symmetrized neighbors, m = min(u, N(u));
      // re-link every larger neighbor v > u to m.
      val sym = e.select($"a".as("u"), $"b".as("v"))
        .union(e.select($"b".as("u"), $"a".as("v")))
      val mins = sym.groupBy($"u")
        .agg(least($"u", min($"v")).as("m"))
      val large = sym.join(mins, "u")
        .filter($"v" > $"u")
        .select($"v".as("a"), $"m".as("b"))
        .filter($"a" =!= $"b")
        .distinct()
      // small-star: orient u > v, m = min over smaller neighbors; re-link
      // every smaller neighbor and u itself to m.
      val oriented = large.select(
        greatest($"a", $"b").as("u"), least($"a", $"b").as("v"))
      val mins2 = oriented.groupBy($"u").agg(min($"v").as("m"))
      val small = materializeFrontier(oriented.join(mins2, "u")
        .select($"v".as("a"), $"m".as("b"))
        .union(mins2.select($"u".as("a"), $"m".as("b")))
        .filter($"a" =!= $"b")
        .distinct())

      val cur = digest(small)
      converged = cur == prev
      prev = cur
      e = small
      iter += 1
    }
    // fixpoint edges form stars (node -> component-min root); roots label
    // themselves so the documented "every node in an edge" contract holds
    val stars = e.select(
      greatest($"a", $"b").as("node"), least($"a", $"b").as("comp"))
    stars.union(stars.select($"comp".as("node"), $"comp".as("comp")))
      .distinct()
  }

  /** Assign every row of `df` its component id: edge nodes get the
    * component minimum, isolated rows are their own singleton component. */
  def componentLabels(df: DataFrame, idCol: String, edges: DataFrame): DataFrame = {
    val labels = connectedComponents(edges)
      .withColumnRenamed("node", idCol)
    df.join(labels, Seq(idCol), "left_outer")
      .withColumn("cluster_id", coalesce(col("comp"), col(idCol)).cast("long"))
      .drop("comp")
  }

  /** Email-address pattern shared by the Spark plan and the DuckDB oracle
    * (kept to syntax with identical semantics in Java regex and RE2). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** North-American 555 test-exchange phone pattern. */
  val PhoneRe = "\\b555-[0-9]{4}\\b"

  /** Count of PII matches in `text` (emails + phones), pre-redaction. */
  def piiCount(text: Column): Column =
    (size(regexp_extract_all(text, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(text, lit(PhoneRe), lit(0)))).cast("long")

  /** Redact emails and phone numbers with typed placeholder tokens.
    * Row-local, codegen'd — scales linearly with input splits. */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRe, "[EMAIL]"),
      PhoneRe, "[PHONE]")

  /** The shared overflow-safe hash mix behind [[stratifiedHashSample]]
    * and [[reservoirSample]]:
    * `pmod(pmod(id, 1000003) * 2654435761 + 40503, outMod)`.
    * The id is reduced mod a prime BEFORE the Knuth multiply: 1000002 *
    * 2654435761 + 40503 < 2^63, so the mix never overflows signed
    * 64-bit (ids >= ~3.5e9 — routine at corpus scale — would otherwise
    * wrap negative, and `%` on a negative dividend is always < rate,
    * silently keeping those rows); pmod keeps the result non-negative
    * for any caller-supplied id sign. Every engine replaying the sample
    * (the DuckDB oracles do) must replay this exact expression. */
  def hashMix(id: Column, outMod: Long): Column =
    pmod(pmod(id.cast("long"), lit(1000003L)) * 2654435761L + 40503L,
      lit(outMod))

  /** Deterministic per-stratum hash sampling: keep a row iff
    * `hashMix(id, 1000) < permille(stratum)` (see [[hashMix]] for the
    * exact overflow-safe formula). Unlike `df.sample`/`sampleBy`
    * (partition-order-dependent RNG), the decision is a pure function
    * of the row — reproducible across runs, engines, and
    * repartitionings, which is what makes ablation experiments on a
    * 100 TB corpus comparable. Filter is row-local (no shuffle) and
    * pushes the stratum column read down to the scan. */
  def stratifiedHashSample(df: DataFrame, idCol: Column, stratumCol: Column,
                           permille: Map[String, Int],
                           defaultPermille: Int = 1000): DataFrame = {
    val rate = permille.foldLeft(lit(defaultPermille)) {
      case (acc, (k, v)) => when(stratumCol === k, lit(v)).otherwise(acc)
    }
    df.filter(hashMix(idCol, 1000L) < rate)
  }

  /** Deterministic fixed-SIZE per-stratum sample — the complement of
    * [[stratifiedHashSample]] (fixed RATE): exactly `k` rows per stratum,
    * chosen by ranking on a pure hash of the row id. Where an RNG
    * reservoir depends on encounter order, this is a function of the
    * data alone — reproducible across runs/engines/partitionings. One
    * shuffle on the stratum key; with the rank=1..k window shape it
    * executes through TopKPerKeyExec (bounded k-row buffer per stratum,
    * no full sort). Same overflow-safe [[hashMix]] as
    * [[stratifiedHashSample]], with a 1000003 output modulus so
    * priority ties are rare. */
  def reservoirSample(df: DataFrame, idCol: Column, stratumCol: Column,
                      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(stratumCol)
      .orderBy(hashMix(idCol, 1000003L).asc, idCol.asc)
    // filter on the RAW int rank, cast afterwards: WindowTopKRule matches
    // `Filter(rank <= int-literal, ... Window)` — a cast wrapped around
    // the rank attribute (or a long literal) hides the pattern and the
    // query would silently fall back to a full per-stratum WindowExec sort
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .withColumn("rk", col("__rk").cast("long"))
      .drop("__rk")
  }

  /** Corpus-level boilerplate removal (the CCNet/RefinedWeb line-dedup
    * family, adapted to token segments because this corpus has no line
    * structure): re-segment every document into fixed `segTokens`-token
    * windows, count each segment's document frequency across the WHOLE
    * corpus, drop segments appearing in >= `dfThreshold` distinct
    * documents (navigation chrome, subscribe prompts, licence headers),
    * and reassemble what survives in token order.
    *
    * Returns (idCol, n_segs, n_kept, clean_text).
    *
    * Scale shape (round-16: segment assembly is ROW-LOCAL — the old
    * form posexploded every token and re-grouped on (doc, seg_id), a
    * corpus-sized exchange of every token occurrence just to glue
    * windows back together; slicing the token array inside the row
    * emits the same (id, seg_id, seg) stream with ZERO exchanges, the
    * round-15 shingle-assembly rule applied to segments): one
    * segment-frequency agg (map-side combined), one shuffled equi-join
    * back (the frequency table is corpus-vocabulary sized — NOT
    * broadcastable at 100 TB), one per-doc reassembly agg whose
    * collect_list is bounded by document length. No step holds more
    * than a document per group; skew from long documents is bounded
    * because segmentation splits them into independent groups before
    * the wide agg. */
  def stripBoilerplateSegments(df: DataFrame, idCol: String, textCol: Column,
                               segTokens: Int, dfThreshold: Int): DataFrame = {
    val id = col(idCol)
    val segs = df
      .select(id, TextOps.tokens(textCol).as("__toks"))
      .select(id, posexplode(TextOps.chunks(col("__toks"), segTokens, segTokens)(
        array_join(_, " "))).as(Seq("seg_id", "seg")))
      .select(id, col("seg_id").cast("long").as("seg_id"), col("seg"))
    val freq = segs.groupBy(col("seg"))
      .agg(countDistinct(id).as("df"))
    segs.join(freq, "seg")
      .groupBy(id)
      .agg(
        count(lit(1)).cast("long").as("n_segs"),
        sum(when(col("df") < dfThreshold, 1L).otherwise(0L)).as("n_kept"),
        // collect_list skips the null'd-out dropped segments; the sort
        // key is the bounded per-doc seg_id, so order is rebuilt exactly
        array_join(
          transform(
            array_sort(collect_list(
              when(col("df") < dfThreshold, struct(col("seg_id"), col("seg"))))),
            x => x.getField("seg")), " ").as("clean_text"))
  }

  /** Token-budget corpus selection WITHOUT a global sort: flag the
    * highest-quality documents whose running token total fits `budget`,
    * greedy by quality bucket descending then id ascending.
    *
    * The naive form — `ORDER BY quality DESC` + running sum — funnels
    * the whole corpus through one partition. Instead: (1) aggregate
    * token totals per quality BUCKET (one shuffle; bucket count is
    * bounded by the score's quantization, here ≤ 1001, regardless of
    * corpus size); (2) run the cumulative budget over the bucket table
    * only (the single-partition window touches ≤ bucket-count rows —
    * model-sized by construction); (3) join the per-bucket prior back
    * and finish with a per-bucket doc-ordered running sum (windows
    * partitioned by bucket — parallel, skew bounded by bucket content).
    * A doc is selected iff tokens-before-it (better buckets + earlier
    * docs in its own bucket) + its own tokens still fit. All integer
    * arithmetic — engine-exact. */
  def selectWithinTokenBudget(df: DataFrame, idCol: String, tokCol: Column,
                              bucketCol: Column, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val id = col(idCol)
    val docs = df.select(id, tokCol.cast("long").as("n_tokens"),
      bucketCol.cast("long").as("qb"))
    val buckets = docs.groupBy(col("qb")).agg(sum(col("n_tokens")).as("btok"))
    val wB = Window.orderBy(col("qb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val priors = buckets
      .withColumn("prior", sum(col("btok")).over(wB) - col("btok"))
      .select(col("qb"), col("prior"))
    val wD = Window.partitionBy(col("qb")).orderBy(id.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(broadcast(priors), "qb")
      .withColumn("dcum", sum(col("n_tokens")).over(wD))
      .select(id, col("qb"), col("n_tokens"),
        (col("prior") + col("dcum") <= budget).as("selected"))
  }

  /** Per-stratum top-p (nucleus) mass selection: within each stratum,
    * keep documents in hash-priority order until `permille`/1000 of the
    * stratum's token mass is covered (a doc is kept iff the mass
    * strictly before it is under the cutoff — so the crossing doc is
    * included and the kept mass is >= the target).
    *
    * The naive form sorts each stratum end-to-end. Instead the q75
    * histogram trick, applied per group: priorities are uniform in
    * [0, 1000003), so `prio div 1001` buckets each stratum into <= 1000
    * priority ranges; per-(stratum, bucket) token totals give a
    * histogram whose per-stratum running sum (a window over <= 1000
    * rows per stratum — model-sized) yields each bucket's prior mass;
    * docs then only need a running sum WITHIN their own bucket. Global
    * order (bucket, prio, id) == (prio, id) because the bucket is a
    * monotone function of the priority, so the decomposed cumulative sum
    * equals the stratum-wide one exactly — integer arithmetic end to
    * end. Shuffles: one agg + one (stratum, bucket)-partitioned window;
    * the histogram and totals broadcast. */
  def selectTopMassPerStratum(df: DataFrame, idCol: String, stratumCol: Column,
                              tokCol: Column, permille: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val id = col(idCol)
    val docs = df.select(id, stratumCol.as("stratum"),
        tokCol.cast("long").as("n_tokens"))
      .withColumn("prio", hashMix(id, 1000003L))
      .withColumn("pb", expr("prio div 1001"))
    val buckets = docs.groupBy(col("stratum"), col("pb"))
      .agg(sum(col("n_tokens")).as("btok"))
    val wB = Window.partitionBy(col("stratum")).orderBy(col("pb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val priors = buckets
      .withColumn("prior", sum(col("btok")).over(wB) - col("btok"))
      .select(col("stratum"), col("pb"), col("prior"))
    val totals = buckets.groupBy(col("stratum")).agg(sum(col("btok")).as("total"))
    val wD = Window.partitionBy(col("stratum"), col("pb"))
      .orderBy(col("prio").asc, id.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(broadcast(priors), Seq("stratum", "pb"))
      .join(broadcast(totals), Seq("stratum"))
      .withColumn("dcum", sum(col("n_tokens")).over(wD))
      .filter((col("prior") + col("dcum") - col("n_tokens")) * 1000 <
        col("total") * permille)
      .select(id, col("stratum"), col("n_tokens"))
  }

  /** GPT-style sequence packing: concatenate each stream's documents in
    * id order and split at `budget`-token boundaries. Emits per document
    * the sequence it starts in and how many boundaries it straddles
    * (straddling docs get truncated or split by the tokenizer stage).
    * One shuffle on the stream key; cumulative sum is a codegen'd
    * running-window — no driver-side state. Streams (e.g. source shards)
    * pack independently, so parallelism = #streams at any corpus size. */
  def packSequences(df: DataFrame, idCol: String, streamCol: String,
                    tokCol: Column, budget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(streamCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), col(streamCol), tokCol.cast("long").as("n_tokens"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .select(
        col(idCol), col(streamCol), col("n_tokens"),
        expr(s"(__cum - n_tokens) div $budget").as("seq_id"),
        // clamp: a zero-token doc landing exactly on a budget boundary
        // yields (cum-1) div b - cum div b = -1; crossings are >= 0
        greatest(lit(0L),
          expr(s"(__cum - 1) div $budget - (__cum - n_tokens) div $budget"))
          .as("n_boundary_crossings"))
  }
}
