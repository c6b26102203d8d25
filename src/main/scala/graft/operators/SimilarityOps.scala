package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.util.Random

import graft.functions.{GraftFunctions, VectorFns}
import graft.plans.GraftPlanner

/** Approximate-nearest-neighbor similarity search over an embedding column
  * (`Array[Float]`).
  *
  *  - [[bruteForceTopK]]: exact baseline — broadcast the (small) query set
  *    against the full corpus, codegen'd dot product, window top-k. One
  *    pass over the corpus, no corpus shuffle.
  *  - [[hyperplaneSignature]] + [[lshTopK]]: random-hyperplane LSH — a
  *    scale path. Signatures are row-local; the join shuffles only on the
  *    small bucket key. Hyperplanes are generated from a fixed seed at
  *    plan time, so results are deterministic.
  *  - [[ivfTopK]]: IVF-style cells — the other scale path. Cell
  *    assignment is a row-local argmax against broadcast centroid
  *    literals (zero shuffles); only the candidate join and the top-k
  *    window shuffle.
  *
  * All exact ranking goes through [[graft.functions.DotProduct]], a
  * codegen'd Catalyst expression — the interpreted `aggregate(zip_with)`
  * higher-order form costs ~30× on the candidate sets these produce
  * (same pathology BASELINE.md documents for shingle/simhash HOFs).
  */
object SimilarityOps {

  /** Codegen'd dot product (sequential left-to-right sum — deterministic,
    * bit-identical to the DuckDB oracle's `list_sum(list_transform)`).
    * For unit-normalized embeddings this IS cosine similarity. */
  def dot(a: Column, b: Column): Column = VectorFns.dot(a, b)

  /** Two-stage per-query top-k — the q112/q141 bucketed-prefilter
    * pattern, shared by every ANN helper (round-15: the occupancy
    * audit caught pqTopK's single-stage form). A per-query rank window
    * over a corpus-derived candidate frame has #queries-way
    * parallelism: the probe set is a FIXED input, so at 100 TB one
    * task streams corpus/#queries rows even after the TopKPerKey
    * rewrite removes the sort. Stage 1 ranks within (query_id,
    * hash(bucketOn) % 64) — 64x the parallelism, <= k survivors per
    * bucket; stage 2 ranks the <= 64k survivors per query. REQUIRES
    * `ord` to be a total order (unique tiebreak) so the bucket split
    * cannot change the survivor set — every caller orders by
    * (score DESC, neighbor_id ASC). The engine-local hash never
    * reaches the oracle: the output row set is identical. */
  private def bucketedRank(df: DataFrame, bucketOn: Column,
                           ord: Seq[Column], k: Int,
                           rankName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wB = Window
      .partitionBy(col("query_id"), pmod(hash(bucketOn), lit(64)))
      .orderBy(ord: _*)
    val wF = Window.partitionBy(col("query_id")).orderBy(ord: _*)
    df.withColumn("__bk", row_number().over(wB))
      .filter(col("__bk") <= k).drop("__bk")
      .withColumn(rankName, row_number().over(wF))
      .filter(col(rankName) <= k)
  }

  /** Exact top-k neighbors for each query vector.
    * @param corpus  (id, embedding float array)
    * @param queries subset of corpus rows to use as queries (broadcast)
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     embCol: String, k: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    GraftPlanner.install(corpus.sparkSession)
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(embCol).cast("array<double>").as("qe")))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(embCol).cast("array<double>").as("ce"))
    val scored = c.join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("qe"), col("ce")))
    bucketedRank(scored, col("neighbor_id"),
      Seq(col("sim").desc, col("neighbor_id").asc), k, "rank")
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim_r"))
  }

  /** Brute-force cosine near-duplicate pairs: all (a < b) pairs with
    * dot ≥ threshold. Quadratic verification baseline — the scale paths
    * are [[lshTopK]] buckets or [[ivfTopK]] cells with a threshold
    * filter. */
  def cosinePairs(corpus: DataFrame, idCol: String, embCol: String,
                  threshold: Double): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    GraftPlanner.install(corpus.sparkSession)
    val a = corpus.select(col(idCol).as("id_a"),
      col(embCol).cast("array<double>").as("ea"))
    val b = corpus.select(col(idCol).as("id_b"),
      col(embCol).cast("array<double>").as("eb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("ea"), col("eb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim_r"))
  }

  /** Deterministic seed centroids: the first `nlist` corpus vectors by
    * id. The matrix row INDEX is a stable cell id (ties in
    * nearest_cells break to the smaller index == smaller centroid id). */
  def seedCentroids(corpus: DataFrame, idCol: String, embCol: String,
                    nlist: Int): Seq[Seq[Double]] =
    corpus.orderBy(col(idCol)).limit(nlist)
      .select(col(embCol).cast("array<double>"))
      .collect()
      .map(_.getSeq[Double](0).toSeq).toSeq

  /** IVF-style ANN search against an explicit centroid matrix
    * ([[seedCentroids]] or an externally trained model — collected once
    * on the driver, the size of any broadcast ANN model). Every vector scores
    * all centroids ROW-LOCALLY via the matrix-form
    * [[graft.functions.NearestCells]] expression (one primitive loop per
    * row against the broadcast matrix) yielding its `nprobe` nearest
    * cell indices, best first, ties to the smaller centroid id. The top
    * cell is the assignment. No crossJoin, no per-vector window, zero
    * shuffles until the candidate join.
    *
    * Vectors are carried through the cell join so ranking needs no
    * further id-joins: shuffles = 1 (cell join) + 1 (top-k ranking).
    * A (query, neighbor) pair can match at most once — each neighbor
    * lives in exactly one cell — so no distinct is needed.
    *
    * Candidate volume ≈ n·nprobe·(n/nlist): callers must scale `nlist`
    * with n (≈ n/targetCellSize) or candidates drift quadratic. A hot
    * cell skews the join; AQE skew-join splits it at runtime.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, embCol: String,
              centMatrix: Seq[Seq[Double]], nprobe: Int, k: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    GraftPlanner.install(corpus.sparkSession)
    val vecs = corpus.select(col(idCol),
      col(embCol).cast("array<double>").as("v"))
    val base = vecs.withColumn("cells",
      call_function("nearest_cells",
        col("v"), typedLit(centMatrix), lit(nprobe)))
    val assignment = base.select(col(idCol).as("neighbor_id"),
      col("cells")(0).as("cell_id"), col("v").as("ce"))
    val probes = base
      .select(col(idCol).as("query_id"), col("v").as("qe"),
        explode(col("cells")).as("cell_id"))
    val scored = probes.join(assignment, "cell_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("qe"), col("ce")).as("sim"))
    bucketedRank(scored, col("neighbor_id"),
      Seq(col("sim").desc, col("neighbor_id").asc), k, "rank")
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim_r"))
  }

  /** IVF search with deterministic first-`nlist` seed centroids — the
    * bit-reproducible configuration the q45 oracle replays. */
  def ivfTopK(corpus: DataFrame, idCol: String, embCol: String,
              nlist: Int, nprobe: Int, k: Int): DataFrame =
    ivfTopK(corpus, idCol, embCol,
      seedCentroids(corpus, idCol, embCol, nlist), nprobe, k)

  /** Two-level sizing for [[ivfHierTopK]]: ≈ n/targetCell leaf cells,
    * split √-ways so BOTH the broadcast coarse model (nlist1 rows) and
    * the per-row assignment work (nlist1 + nlist2 centroid scores) grow
    * as √n — where flat IVF's nlist = n/targetCell made assignment
    * O(n²/targetCell) total work and the model a linearly-growing plan
    * literal. At 100× the rows, nlist1 grows ~10×. */
  def ivfHierSizing(n: Long, targetCell: Int = 64): (Int, Int) = {
    val cells = math.max(4L, math.ceil(n.toDouble / targetCell).toLong)
    val nlist1 = math.max(2, math.ceil(math.sqrt(cells.toDouble)).toInt)
    val nlist2 = math.max(1, math.ceil(cells.toDouble / nlist1).toInt)
    (nlist1, nlist2)
  }

  /** HIERARCHICAL (two-level) IVF ANN — the lake-scale replacement for
    * flat [[ivfTopK]] sizing.
    *
    * Level 1: `nlist1` coarse centroids (deterministic first-by-id
    * seeds) as a broadcast literal; every vector picks its coarse cell
    * ROW-LOCALLY via [[graft.functions.NearestCells]] — √-sized model,
    * √-sized per-row work. Level 2: each coarse cell's `nlist2`
    * sub-centroids are its first `nlist2` member vectors by id — ranked
    * by the grouped-top-k operator (one clustered pass, no sort) and
    * assembled into a per-cell matrix column. The sub-model is
    * Θ(n/targetCell) rows TOTAL but is never collected or broadcast: it
    * JOINS on the coarse cell and each row scores only its own cell's
    * matrix ([[graft.functions.NearestCellsCol]]).
    *
    * Queries probe `nprobe1` coarse × `nprobe2` sub cells. A (query,
    * neighbor) pair meets at most once — probed (c1,c2) keys are
    * distinct and a neighbor owns exactly one — so no dedup pass.
    * Everything is deterministic (seed order, argmax ties to the lower
    * index), so an external oracle can replay the whole pipeline.
    *
    * Trade: more (linear-sized) shuffles than flat IVF's two — the sub
    * model rides (c1)-keyed joins, which AQE broadcasts while it is
    * small. What it buys at 100×: assignment work O(n·√(n/c)) instead
    * of O(n²/c), and no O(n)-sized broadcast anywhere.
    */
  def ivfHierTopK(corpus: DataFrame, idCol: String, embCol: String,
                  nlist1: Int, nlist2: Int, nprobe1: Int, nprobe2: Int,
                  k: Int): DataFrame =
    ivfHierTopK(corpus, idCol, embCol,
      seedCentroids(corpus, idCol, embCol, nlist1), nlist2, nprobe1,
      nprobe2, k)

  /** [[ivfHierTopK]] with an EXPLICIT coarse matrix — the hook for an
    * externally trained coarse model (sub-seeds stay deterministic
    * first-by-id within each coarse cell). Bit-reproducible callers (the
    * q45 oracle) use raw seeds via the other overload. */
  def ivfHierTopK(corpus: DataFrame, idCol: String, embCol: String,
                  coarse: Seq[Seq[Double]], nlist2: Int, nprobe1: Int,
                  nprobe2: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(corpus.sparkSession)
    GraftPlanner.install(corpus.sparkSession)
    val vecs = corpus.select(col(idCol).as("vid"),
      col(embCol).cast("array<double>").as("v"))
    val withCells = vecs.withColumn("cells",
      call_function("nearest_cells", col("v"), typedLit(coarse), lit(nprobe1)))
    val assignedCoarse = withCells
      .select(col("vid"), col("v"), col("cells")(0).as("c1"))

    // per-coarse-cell sub-matrix: first nlist2 members by id, in rank
    // order (runs on TopKPerKeyExec; the groupBy reuses its clustering)
    val wSeed = Window.partitionBy(col("c1")).orderBy(col("vid").asc)
    val subSeeds = assignedCoarse
      .withColumn("rk", row_number().over(wSeed))
      .filter(col("rk") <= nlist2)
      .groupBy(col("c1"))
      .agg(sort_array(collect_list(struct(col("rk"), col("v")))).as("sm"))
      .select(col("c1"), expr("transform(sm, x -> x.v)").as("subm"))

    val assignment = assignedCoarse.join(subSeeds, "c1")
      .select(col("vid").as("neighbor_id"), col("c1").as("n_c1"),
        call_function("nearest_cells_col", col("v"), col("subm"), lit(1))(0)
          .as("n_c2"),
        col("v").as("ce"))
    val probes = withCells
      .select(col("vid").as("query_id"), col("v").as("qe"),
        explode(col("cells")).as("c1"))
      .join(subSeeds, "c1")
      .select(col("query_id"), col("qe"), col("c1"),
        explode(call_function("nearest_cells_col", col("qe"), col("subm"),
          lit(nprobe2))).as("c2"))

    val scored = probes.join(assignment,
        col("c1") === col("n_c1") && col("c2") === col("n_c2"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("qe"), col("ce")).as("sim"))
    bucketedRank(scored, col("neighbor_id"),
      Seq(col("sim").desc, col("neighbor_id").asc), k, "rank")
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim_r"))
  }

  /** Deterministic Gaussian hyperplanes: `planes × dim`, seeded. */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new Random(seed)
    Array.fill(planes, dim)(rnd.nextGaussian())
  }

  /** LSH shape for a corpus of `n` vectors. */
  final case class LshConfig(planes: Int, tables: Int, probes: Int)

  /** Recall-governed LSH sizing, UNCAPPED in the plane count.
    *
    * `planes = ceil(log2(n / targetBucket))` keeps the expected bucket
    * size in (targetBucket/2, targetBucket] at EVERY n — a fixed cap
    * (the old `min(16, …)`) re-opens quadratic candidate drift past
    * n ≈ targetBucket·2^16. Bucket keys are single longs, so up to 63
    * planes ≈ 2·10^20 vectors at bucket 25.
    *
    * More planes shrink per-table collision probability p^planes
    * (p = 1 − θ/π at the target similarity), so coverage must grow to
    * hold recall: tablesNeeded = ln(1/missProb)/p^planes independent
    * OR-trials. Tables are capped (each is a full signature pass +
    * band-join rows); the shortfall routes through MULTI-PROBE — the
    * query side also probes its `probes − 1` lowest-margin single-bit
    * flips per table ([[graft.functions.HyperplaneProbes]]), ≈ extra
    * tables at one table's memory cost. Defaults: near-dup regime
    * (sim 0.9), ≤10% miss; sf0.01/sf0.1 corpora resolve to the same
    * (planes, 8 tables, 1 probe) shapes the oracles bake.
    */
  def lshSizing(n: Long, targetBucket: Int = 25, simTarget: Double = 0.9,
                missProb: Double = 0.1, minTables: Int = 8,
                maxTables: Int = 16): LshConfig = {
    val planes = math.min(63, math.max(3,
      math.ceil(math.log(n.toDouble / targetBucket) / math.log(2)).toInt))
    val p = 1.0 - math.acos(simTarget) / math.Pi
    val tablesNeeded = math.ceil(
      math.log(1.0 / missProb) / math.pow(p, planes)).toLong.max(1L)
    val tables = math.max(minTables, math.min(maxTables.toLong, tablesNeeded).toInt)
    val probes = math.min(planes + 1,
      math.max(1L, (tablesNeeded + tables - 1) / tables).toInt)
    LshConfig(planes, tables, probes)
  }

  /** Row-local signature: bit p set iff dot(v, plane_p) > 0. Buckets
    * vectors into 2^planes hash buckets. Each plane test is a codegen'd
    * dot against a literal plane vector. */
  def hyperplaneSignature(emb: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(emb, typedLit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** L independent hash tables of `planes` hyperplanes each. More tables →
    * higher recall (collide in ≥1 table); more planes → smaller buckets.
    * For sim≈0.37 neighbors, 8×4 gives ≈0.7 expected recall@1. */
  def lshTables(planes: Int, tables: Int, dim: Int,
                seed: Long = 42L): Seq[Array[Array[Double]]] =
    (0 until tables).map(t => hyperplanes(planes, dim, seed + t))

  /** Embedding-cosine near-duplicate pairs AT SCALE: candidates from
    * multi-table LSH buckets (vs [[cosinePairs]]' quadratic nested
    * loop), verified exactly against the threshold. Output is each
    * (a < b) pair that shares ≥1 bucket AND has dot ≥ threshold —
    * deterministic given the seeded planes, so an external oracle can
    * replay it; recall vs the exact pair set is pinned in
    * SimilaritySpec. Same shuffle shape as [[lshTopK]] minus the
    * ranking window. */
  /** Band rows (id, vector, table_id, bucket) — base signatures. */
  private def bandRows(corpus: DataFrame, idCol: String, embCol: String,
                       planeMatrix: Seq[Seq[Double]], planesPerTable: Int): DataFrame =
    corpus.select(col(idCol), col(embCol).cast("array<double>").as("v"),
      posexplode(call_function("hp_signatures",
        col(embCol).cast("array<double>"),
        typedLit(planeMatrix), lit(planesPerTable)))
        .as(Seq("table_id", "bucket")))

  /** Probe rows (id, vector, pos, bucket) — base signature plus
    * `probes-1` lowest-margin bit flips per table
    * ([[graft.functions.HyperplaneProbes]]); `pos div probes` recovers
    * the table id. hp_probes emits the BASE
    * signature at `pos % probes == 0` of each table (HyperplaneProbes
    * ordering contract), so one persisted frame of these rows serves
    * both the probe side (all rows) and the base/index side (the
    * `pos % probes == 0` filter) of a multi-probe join — one signature
    * pass instead of hp_probes + hp_signatures over the corpus. */
  private def probeRowsWithPos(corpus: DataFrame, idCol: String,
                               embCol: String, planeMatrix: Seq[Seq[Double]],
                               planesPerTable: Int, probes: Int): DataFrame =
    corpus.select(col(idCol), col(embCol).cast("array<double>").as("v"),
      posexplode(call_function("hp_probes",
        col(embCol).cast("array<double>"),
        typedLit(planeMatrix), lit(planesPerTable), lit(probes)))
        .as(Seq("pos", "bucket")))
      .select(col(idCol), col("v"),
        expr(s"CAST(pos div $probes AS INT)").as("table_id"),
        expr(s"CAST(pos % $probes AS INT)").as("pos"), col("bucket"))

  def lshNearDupPairs(corpus: DataFrame, idCol: String, embCol: String,
                      tables: Seq[Array[Array[Double]]],
                      threshold: Double, probes: Int = 1): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val planesPerTable = tables.head.length
    val planeMatrix: Seq[Seq[Double]] = tables.flatten.map(_.toSeq)
    val q = math.max(1, math.min(planesPerTable + 1, probes))
    if (q == 1) {
      // symmetric sides share one signature pass, and `<` halves the
      // candidate pairs BEFORE the dot products — the historical,
      // oracle-replayed plan shape. Persisted: both sides of the
      // bucket self-join project this frame differently, defeating
      // ReuseExchange — without the cache the per-row signature
      // hashing runs once per consumer (round-9 q69 driver-bench
      // lesson).
      val bandTable =
        bandRows(corpus, idCol, embCol, planeMatrix, planesPerTable).persist()
      bandTable.select(col(idCol).as("id_a"), col("v").as("ea"),
          col("table_id"), col("bucket"))
        .join(bandTable.select(col(idCol).as("id_b"), col("v").as("eb"),
          col("table_id"), col("bucket")), Seq("table_id", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), dot(col("ea"), col("eb")).as("sim"))
        .filter(col("sim") >= threshold)
        .distinct()
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim_r"))
    } else {
      // multi-probe is asymmetric (probes vs base), so pairs collide in
      // either direction: (a ∈ probes(b)) ∨ (b ∈ probes(a)). Normalize
      // with least/greatest — dot is orientation-independent
      // bit-for-bit (per-term products commute; summation index order
      // is identical), so the normalized pair dedups to one exact sim.
      // ONE persisted probe frame serves both sides: the base/index
      // side is its `pos % q == 0` slice (hp_probes ordering
      // contract), so the corpus is signature-hashed once, not twice.
      val pr = probeRowsWithPos(corpus, idCol, embCol, planeMatrix,
        planesPerTable, q).persist()
      pr.select(col(idCol).as("id_a"), col("v").as("ea"),
          col("table_id"), col("bucket"))
        .join(pr.filter(col("pos") === 0)
          .select(col(idCol).as("id_b"), col("v").as("eb"),
            col("table_id"), col("bucket")), Seq("table_id", "bucket"))
        .filter(col("id_a") =!= col("id_b"))
        .select(least(col("id_a"), col("id_b")).as("pid_a"),
          greatest(col("id_a"), col("id_b")).as("pid_b"),
          dot(col("ea"), col("eb")).as("sim"))
        .filter(col("sim") >= threshold)
        .distinct()
        .select(col("pid_a").as("id_a"), col("pid_b").as("id_b"),
          round(col("sim"), 6).as("sim_r"))
    }
  }

  /** ANN via multi-table bucket join: vectors sharing a bucket in ANY
    * table are compared exactly; top-k per query over the candidate set.
    * Shuffles on (table_id, bucket) — candidate count ≈ n·avgBucket·L,
    * versus n² for brute force. Vectors ride the bucket shuffle so
    * ranking needs no extra id-joins; similarity is computed before the
    * multi-table dedup (sim is a pure function of the pair, so
    * `distinct` on (query, neighbor, sim) ≡ pair dedup, and a codegen'd
    * dot re-computed per duplicate bucket is far cheaper than two more
    * shuffle joins). Recall pinned in SimilaritySpec. */
  def lshTopK(corpus: DataFrame, idCol: String, embCol: String,
              tables: Seq[Array[Array[Double]]], k: Int,
              probes: Int = 1): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    GraftPlanner.install(corpus.sparkSession)
    // all tables' signatures in ONE matrix expression (single primitive
    // loop per row), posexplode'd into (table_id, bucket) band rows.
    // Multi-probe: the query side additionally probes its lowest-margin
    // bit-flip buckets; the index side stays one bucket per table.
    val planesPerTable = tables.head.length
    val planeMatrix: Seq[Seq[Double]] = tables.flatten.map(_.toSeq)
    val q = math.max(1, math.min(planesPerTable + 1, probes))
    // query side + index side both read one persisted frame (their
    // projections differ → no ReuseExchange); with multi-probe, the
    // index side is the probe frame's `pos % q == 0` slice, so the
    // corpus is signature-hashed once either way.
    val pr = probeRowsWithPos(corpus, idCol, embCol, planeMatrix,
      planesPerTable, q).persist()
    val bandTable = pr.filter(col("pos") === 0)
    val querySide = if (q == 1) bandTable else pr
    val scored = querySide.select(col(idCol).as("query_id"), col("v").as("qe"),
        col("table_id"), col("bucket"))
      .join(bandTable.select(col(idCol).as("neighbor_id"), col("v").as("ce"),
        col("table_id"), col("bucket")), Seq("table_id", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("qe"), col("ce")).as("sim"))
      .distinct()
    bucketedRank(scored, col("neighbor_id"),
      Seq(col("sim").desc, col("neighbor_id").asc), k, "rank")
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim_r"))
  }

  /** Per-dimension (min, max) ranges for scalar quantization — one
    * explode+agg pass, model-sized result (dim rows) collected to the
    * driver. This is the stats pass a quantizing lake writer runs once;
    * at 100 TB it is a single scan with map-side combine on a dim-count
    * keyed aggregate. Values are aggregated as doubles so the oracle's
    * arithmetic starts from identical numbers. */
  def dimRanges(corpus: DataFrame, embCol: String): Array[(Double, Double)] = {
    corpus
      .select(posexplode(col(embCol)).as(Seq("i", "v")))
      .groupBy(col("i"))
      .agg(min(col("v").cast("double")).as("mn"),
           max(col("v").cast("double")).as("mx"))
      .orderBy(col("i"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
  }

  /** Row-local int8 scalar quantization against fixed per-dimension
    * ranges: `code_i = clamp(floor((v_i - mn_i) * 256 / range_i), 0, 255)`
    * with midpoint dequantization. `floor` (not `round`) keeps the
    * arithmetic identical across engines (round-half modes differ).
    * Returns (code-sum checksum, clipped-dimension count, mse): the
    * integer outputs are order-independent, the mse is a left-to-right
    * fold like [[dot]]. 4x smaller vectors is the difference between an
    * embedding corpus that fits executor memory for bucket joins and one
    * that doesn't — the decode cost is one multiply-add per dimension. */
  /** The int8 code vector itself (array<int>), same arithmetic as
    * [[int8QuantStats]] — the stored form a quantizing writer persists. */
  def int8Codes(emb: Column, ranges: Array[(Double, Double)]): Column = {
    val mnA = array(ranges.map(r => lit(r._1)).toIndexedSeq: _*)
    val mxA = array(ranges.map(r => lit(r._2)).toIndexedSeq: _*)
    transform(sequence(lit(1), lit(ranges.length)), i => {
      val v = element_at(emb, i).cast("double")
      val mn = element_at(mnA, i)
      val mx = element_at(mxA, i)
      least(lit(255.0), greatest(lit(0.0),
        floor((v - mn) * lit(256.0) / (mx - mn + lit(1e-12))))).cast("int")
    })
  }

  def int8QuantStats(emb: Column, ranges: Array[(Double, Double)]): (Column, Column, Column) = {
    val dim = ranges.length
    val mnA = array(ranges.map(r => lit(r._1)).toIndexedSeq: _*)
    val mxA = array(ranges.map(r => lit(r._2)).toIndexedSeq: _*)
    def code(i: Column): Column = {
      val v = element_at(emb, i).cast("double")
      val mn = element_at(mnA, i)
      val mx = element_at(mxA, i)
      least(lit(255.0), greatest(lit(0.0),
        floor((v - mn) * lit(256.0) / (mx - mn + lit(1e-12)))))
    }
    val idx = sequence(lit(1), lit(dim))
    val codeSum = aggregate(transform(idx, code(_)), lit(0L),
      (acc, x) => acc + x.cast("long"))
    val nClipped = aggregate(
      transform(idx, i => code(i).isin(0.0, 255.0).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val errs = transform(idx, i => {
      val v = element_at(emb, i).cast("double")
      val mn = element_at(mnA, i)
      val mx = element_at(mxA, i)
      val vhat = mn + (code(i) + lit(0.5)) * (mx - mn + lit(1e-12)) / lit(256.0)
      (v - vhat) * (v - vhat)
    })
    val mse = round(aggregate(errs, lit(0.0), (acc, x) => acc + x) / lit(dim.toDouble), 9)
    (codeSum, nClipped, mse)
  }

  /** Memory-bounded ANN: shortlist candidates by scoring int8 code
    * vectors (integer dot products — exact and order-independent), then
    * rerank only the shortlist with the exact float dot. The pattern that
    * matters at 100 TB: the scored corpus representation is 4x smaller
    * than float32 (the difference between a corpus that fits executor
    * memory / a broadcast and one that doesn't), and the expensive exact
    * arithmetic touches `candidates` rows per query instead of n.
    * Queries broadcast; one corpus pass for scoring; the rerank join
    * touches only shortlisted ids. */
  def sqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             embCol: String, ranges: Array[(Double, Double)],
             candidates: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(corpus.sparkSession)
    val codes = int8Codes(col(embCol), ranges)
    val c = corpus.select(col(idCol).as("neighbor_id"), codes.as("ccodes"))
    val q = queries.select(col(idCol).as("query_id"), codes.as("qcodes"))
    val qscore = aggregate(
      zip_with(col("ccodes"), col("qcodes"), (a, b) => (a * b).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val qscored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("qscore", qscore)
    val shortlist = bucketedRank(qscored, col("neighbor_id"),
      Seq(col("qscore").desc, col("neighbor_id").asc), candidates, "crank")
      .select(col("query_id"), col("neighbor_id"))
    val qe = queries.select(col(idCol).as("query_id"), col(embCol).as("qe"))
    val ce = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("ce"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    shortlist
      .join(broadcast(qe), "query_id")
      .join(ce, "neighbor_id")
      .withColumn("sim", dot(col("qe"), col("ce")))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim_r"))
  }

  /** Product-quantization codebook from deterministic stride anchors:
    * centroid c of subspace mi is the mi-th slice of the vector whose id
    * is `c * (n/k)` — a data-derived, order-independent selection both
    * engines reproduce exactly (no averaged floats whose summation order
    * could differ). A Lloyd-refined codebook drops in without changing
    * [[pqTopK]]; anchors keep the oracled path bit-replayable. Returns
    * `[m][k]` (centroid, |centroid|² as a left-to-right sum) pairs —
    * the norm is precomputed once here so the Spark plan and the oracle
    * SQL consume the SAME double literal. Model-sized collect (k rows). */
  def pqAnchorCodebook(corpus: DataFrame, idCol: String, embCol: String,
                       n: Long, m: Int, k: Int): Array[Array[(Array[Double], Double)]] = {
    val stride = math.max(1L, n / k)
    val rows = corpus
      .filter(col(idCol) % stride === 0 && col(idCol) < stride * k)
      .orderBy(col(idCol))
      .select(col(embCol).cast("array<double>"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "pqAnchorCodebook: no anchor rows matched")
    val dim = rows.head.length
    require(dim % m == 0, s"pqAnchorCodebook: dim $dim not divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m) { mi =>
      rows.map { v =>
        val c = v.slice(mi * sub, (mi + 1) * sub)
        var norm = 0.0
        var i = 0
        while (i < c.length) { norm += c(i) * c(i); i += 1 }
        (c, norm)
      }
    }
  }

  /** PQ code for subspace `mi`: argmin over centroids of L2 distance via
    * the augmented-vector trick — `argmin_c |x-c|² = argmax_c (x·c -
    * |c|²/2)`, and appending 1.0 to the subvector / `-|c|²/2` to each
    * centroid turns that into a plain max-dot, which the existing
    * codegen'd [[graft.functions.NearestCells]] matrix expression
    * computes in one compact plan node (ties to the smaller centroid
    * index). The naive alternative — k unrolled score trees +
    * array_position(array_min) — costs ~2 s of single-threaded driver
    * planning PER RUN on a 4×16×16 codebook; this is one reference
    * object. */
  private def pqCode(e: Column, cents: Array[(Array[Double], Double)],
                     mi: Int, sub: Int): Column = {
    val aug = concat(slice(e, mi * sub + 1, sub), array(lit(1.0)))
    val matrix = typedlit(cents.map { case (c, norm) =>
      (c :+ -(norm / 2.0)).toSeq
    }.toSeq)
    element_at(call_function("nearest_cells", aug, matrix, lit(1)), 1)
  }

  /** Attach PQ codes and the codebook reconstruction to every corpus
    * row: `__c<mi>` int code per subspace plus `recon` (the
    * concatenated centroid lookup — array<double>, built row-locally
    * from the broadcast codebook literals; the float corpus never needs
    * to be resident to score). The stored form a quantizing lake writer
    * persists is just the code columns — m bytes per vector at k ≤ 256. */
  def pqEncode(corpus: DataFrame, embCol: String,
               codebook: Array[Array[(Array[Double], Double)]]): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val m = codebook.length
    val sub = codebook(0)(0)._1.length
    val e = col(embCol).cast("array<double>")
    val coded = (0 until m).foldLeft(corpus) { (acc, mi) =>
      acc.withColumn(s"__c$mi", pqCode(e, codebook(mi), mi, sub))
    }
    val cbLits = codebook.map(cb => typedlit(cb.map(_._1.toSeq).toSeq))
    coded.withColumn("recon", flatten(array((0 until m).map(mi =>
      element_at(cbLits(mi), col(s"__c$mi") + 1)): _*)))
  }

  /** IVF-PQ: the composition a lake-scale ANN service actually runs —
    * coarse cells bound the candidate set (≈ nprobe/nlist of the corpus
    * considered per query), PQ-ADC scores those candidates from codes +
    * broadcast codebook alone (m bytes resident per vector), and the
    * float vectors are fetched by join only for the `candidates`-row
    * shortlist rerank. Cell assignment and probing reuse the codegen'd
    * [[graft.functions.NearestCells]] argmax; encoding/scoring reuse
    * [[pqEncode]]. One corpus pass; shuffles only on the cell join and
    * the per-query top-k windows. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                embCol: String, nlist: Int, nprobe: Int,
                codebook: Array[Array[(Array[Double], Double)]],
                candidates: Int, k: Int): DataFrame =
    ivfPqTopK(corpus, queries, idCol, embCol,
      seedCentroids(corpus, idCol, embCol, nlist), nprobe, codebook,
      candidates, k)

  /** Explicit-coarse-model overload for an externally trained cell
    * model; the q68 oracle path uses raw first-nlist seeds, which this
    * delegates from, so the replayable arithmetic is identical. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                embCol: String, centroids: Seq[Seq[Double]], nprobe: Int,
                codebook: Array[Array[(Array[Double], Double)]],
                candidates: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(corpus.sparkSession)
    val seeds = centroids
    val e = col(embCol).cast("array<double>")
    val coded = pqEncode(corpus.select(col(idCol), col(embCol)), embCol, codebook)
      .withColumn("cell",
        call_function("nearest_cells", e, typedlit(seeds), lit(1))(0))
      .select(col(idCol).as("neighbor_id"), col("cell"), col("recon"))
    val q = queries
      .select(col(idCol).as("query_id"), e.as("qe"))
      .withColumn("cell",
        explode(call_function("nearest_cells", col("qe"), typedlit(seeds),
          lit(nprobe))))
    val adcScored = coded
      .join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", dot(col("qe"), col("recon")))
    val shortlist = bucketedRank(adcScored, col("neighbor_id"),
      Seq(col("adc").desc, col("neighbor_id").asc), candidates, "crank")
      .select(col("query_id"), col("neighbor_id"))
    val qe = queries.select(col(idCol).as("query_id"), col(embCol).as("qe"))
    val ce = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("ce"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    shortlist
      .join(broadcast(qe), "query_id")
      .join(ce, "neighbor_id")
      .withColumn("sim", dot(col("qe"), col("ce")))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim_r"))
  }

  /** HIERARCHICAL IVF-PQ — [[ivfPqTopK]] with the flat coarse quantizer
    * replaced by the two-level scheme of [[ivfHierTopK]], so the LAST
    * linearly-growing piece of the IVF-PQ path scales like √n too:
    * flat IVF-PQ keeps ~√n leaf cells broadcast as one literal and
    * scores every corpus row against ALL of them (O(n·√n·dim) assign
    * work, √n-row plan literal); here level 1 is a √(cells)-row
    * broadcast literal and level 2 rides a (c1)-keyed join of per-cell
    * sub-matrices — per-row assignment work and every resident model
    * are Θ(⁴√(n)·…) ≈ √cells.
    *
    * Leaf = (c1, c2): corpus rows are PQ-encoded ([[pqEncode]] — m
    * bytes resident per vector + row-local reconstruction), queries
    * probe nprobe1 × nprobe2 leaves, ADC ranks the probed candidates
    * from codes alone, and floats are joined in for the
    * `candidates`-row shortlist rerank only. Fully deterministic
    * (first-by-id seeds at both levels, argmax ties to the lower
    * index), so the q68 oracle replays every stage in SQL. */
  def ivfHierPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    embCol: String, nlist1: Int, nlist2: Int,
                    nprobe1: Int, nprobe2: Int,
                    codebook: Array[Array[(Array[Double], Double)]],
                    candidates: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(corpus.sparkSession)
    GraftPlanner.install(corpus.sparkSession)
    val e = col(embCol).cast("array<double>")
    val coarseLit = typedlit(seedCentroids(corpus, idCol, embCol, nlist1))
    val coded = pqEncode(corpus.select(col(idCol), col(embCol)), embCol, codebook)
      .withColumn("c1",
        call_function("nearest_cells", e, coarseLit, lit(1))(0))

    // per-coarse-cell sub-matrix: first nlist2 members by id (grouped
    // top-k runs on TopKPerKeyExec; the groupBy reuses its clustering)
    val wSeed = Window.partitionBy(col("c1")).orderBy(col(idCol).asc)
    val subSeeds = coded.select(col(idCol), e.as("v"), col("c1"))
      .withColumn("rk", row_number().over(wSeed))
      .filter(col("rk") <= nlist2)
      .groupBy(col("c1"))
      .agg(sort_array(collect_list(struct(col("rk"), col("v")))).as("sm"))
      .select(col("c1"), expr("transform(sm, x -> x.v)").as("subm"))

    val assignment = coded.join(subSeeds, "c1")
      .select(col(idCol).as("neighbor_id"), col("c1").as("n_c1"),
        call_function("nearest_cells_col", e, col("subm"), lit(1))(0)
          .as("n_c2"),
        col("recon"))
    val probes = queries
      .select(col(idCol).as("query_id"), e.as("qe"))
      .withColumn("c1",
        explode(call_function("nearest_cells", col("qe"), coarseLit,
          lit(nprobe1))))
      .join(subSeeds, "c1")
      .select(col("query_id"), col("qe"), col("c1"),
        explode(call_function("nearest_cells_col", col("qe"), col("subm"),
          lit(nprobe2))).as("c2"))

    val adcScored = assignment
      .join(broadcast(probes),
        col("n_c1") === col("c1") && col("n_c2") === col("c2"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", dot(col("qe"), col("recon")))
    val shortlist = bucketedRank(adcScored, col("neighbor_id"),
      Seq(col("adc").desc, col("neighbor_id").asc), candidates, "crank")
      .select(col("query_id"), col("neighbor_id"))
    val qe = queries.select(col(idCol).as("query_id"), col(embCol).as("qe"))
    val ce = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("ce"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    shortlist
      .join(broadcast(qe), "query_id")
      .join(ce, "neighbor_id")
      .withColumn("sim", dot(col("qe"), col("ce")))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim_r"))
  }

  /** SemDeDup-style semantic deduplication: cluster-based blocking
    * (each vector scores only its own coarse cell's members) + a
    * within-cell cosine threshold + connected components, labeling
    * every vector with its duplicate-cluster canonical (min id).
    *
    * This is the embedding analog of fingerprint dedup: LSH near-dup
    * (q50/q52) answers "which PAIRS are near", this answers "which
    * ROWS do we drop" — cells bound the pair search the way LSH
    * buckets do, but with a density-adaptive partition of the space
    * rather than random planes. Returns (idCol, cluster_id, is_dup).
    *
    * Scale: the within-cell self-join is the bounded-candidate step —
    * size nlist ∝ n/targetCell so cells stay ~constant-sized and pair
    * work stays linear (the coarse-assignment scan is then the q68
    * hierarchical scheme's job; the flat seed assignment here is the
    * oracle-replayable configuration). Components run the O(log n)
    * star algorithm; nothing collects more than the model. */
  def semanticDedupLabels(corpus: DataFrame, idCol: String, embCol: String,
                          nlist: Int, threshold: Double): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val seeds = seedCentroids(corpus, idCol, embCol, nlist)
    val assigned = corpus
      .select(col(idCol), col(embCol).cast("array<double>").as("e"))
      .withColumn("cell",
        call_function("nearest_cells", col("e"), typedlit(seeds), lit(1))(0))
    val left = assigned.select(col("cell"), col(idCol).as("ida"), col("e").as("ea"))
    val right = assigned.select(col("cell"), col(idCol).as("idb"), col("e").as("eb"))
    val edges = left.join(right, Seq("cell"))
      .filter(col("ida") < col("idb"))
      .filter(dot(col("ea"), col("eb")) >= threshold)
      .select(col("ida").as("a"), col("idb").as("b"))
    CorpusOps.componentLabels(corpus.select(col(idCol)), idCol, edges)
      .select(col(idCol), col("cluster_id"),
        (col("cluster_id") =!= col(idCol)).as("is_dup"))
  }

  /** Memory-bounded ANN via product quantization with asymmetric distance
    * (ADC): the corpus is stored as `m` small codes per vector (m bytes
    * at k≤256 — a 32× compression of a 64-dim float corpus, vs 4× for
    * [[sqTopK]]'s int8); scoring reconstructs each vector from the
    * broadcast codebook literals ON THE FLY (row-local `element_at`
    * lookups — the float corpus is never resident) and takes the exact
    * dot of the query against the reconstruction, which equals the
    * classic per-query LUT formulation `Σ_m lut[m][code_m]`. The float
    * vectors are fetched by join for the `candidates`-row shortlist
    * only. Queries broadcast; one corpus pass; shuffles only on the
    * per-query top-k windows. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             embCol: String, codebook: Array[Array[(Array[Double], Double)]],
             candidates: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(corpus.sparkSession)
    val e = col(embCol).cast("array<double>")
    val coded = pqEncode(corpus.select(col(idCol), col(embCol)), embCol, codebook)
      .select(col(idCol).as("neighbor_id"), col("recon"))
    val q = queries.select(col(idCol).as("query_id"), e.as("qe"))
    val adcScored = coded
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", dot(col("qe"), col("recon")))
    val shortlist = bucketedRank(adcScored, col("neighbor_id"),
      Seq(col("adc").desc, col("neighbor_id").asc), candidates, "crank")
      .select(col("query_id"), col("neighbor_id"))
    val qe = queries.select(col(idCol).as("query_id"), col(embCol).as("qe"))
    val ce = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("ce"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    shortlist
      .join(broadcast(qe), "query_id")
      .join(ce, "neighbor_id")
      .withColumn("sim", dot(col("qe"), col("ce")))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim_r"))
  }
}
