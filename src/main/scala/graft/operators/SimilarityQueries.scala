package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.catalog.{Q, QueryModule, Stats}
import graft.catalog.Tables.t

/** Similarity-search surface over the embeddings table (64-dim unit
  * vectors): exact brute-force top-k baseline, row-local vector stats,
  * and hyperplane-LSH ANN as the scale path.
  */
object SimilarityQueries extends QueryModule {


  /** Seeded hyperplanes as a DuckDB VALUES table — `%.17e` round-trips
    * every double exactly and scientific notation parses as DOUBLE (a
    * plain decimal literal would go through DECIMAL), so the oracle's
    * sign tests see bit-identical dot products. */
  private[operators] def planeValuesSql(tables: Seq[Array[Array[Double]]]): String =
    tables.zipWithIndex.flatMap { case (tbl, tid) =>
      tbl.zipWithIndex.map { case (pl, pi) =>
        val vals = pl.map(d => f"$d%.17e").mkString(", ")
        s"($tid, $pi, CAST([$vals] AS DOUBLE[]))"
      }
    }.mkString(",\n")

  // ---------------------------------------------------------------------
  // Scale-adaptive oracle builders (Q.oracleDyn). The ANN queries size
  // their models from the live corpus row count (lshSizing/ivfHierSizing/
  // anchor strides), so a static oracle baked for one SF diverges at any
  // other. Each builder below replays the EXACT sizing arithmetic the
  // Spark path runs and splices the results into the SQL as literals —
  // Verify resolves them against the dir under test, so the identical
  // hash-exact check runs at every SF. The static Q.oracle snapshots are
  // produced by the same builders at n=500 (the sf0.001/sf0.01 corpus).
  // ---------------------------------------------------------------------

  private def embedN(s: org.apache.spark.sql.SparkSession, d: String): Long =
    Stats.parquetRowCount(s, s"$d/embeddings.parquet")

  /** CTE chain `planes → dots → sig [→ flips → probes]` (expects a `v`
    * CTE with `(vec_id, e DOUBLE[])` in scope). With probes > 1 the
    * `probes` CTE replays hp_probes exactly: base bucket plus the
    * probes-1 lowest-|dot| single-bit flips, ties to the lower plane
    * index (q52's oracle pattern). */
  private def lshSigCtes(tables: Seq[Array[Array[Double]]], probes: Int): String = {
    val base =
      s"""planes(table_id, plane_idx, pv) AS (VALUES
         |${planeValuesSql(tables)}),
         |dots AS (
         |  SELECT v.vec_id, p.table_id, p.plane_idx,
         |    list_sum(list_transform(range(1, 65), i -> v.e[i] * p.pv[i])) AS d
         |  FROM v CROSS JOIN planes p),
         |sig AS (
         |  SELECT vec_id, table_id,
         |    CAST(sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << plane_idx
         |             ELSE 0 END) AS BIGINT) AS bucket
         |  FROM dots GROUP BY vec_id, table_id)""".stripMargin
    if (probes <= 1) base
    else base +
      s""",
         |flips AS (
         |  SELECT vec_id, table_id, plane_idx,
         |    row_number() OVER (PARTITION BY vec_id, table_id
         |                       ORDER BY abs(d) ASC, plane_idx ASC) AS fr
         |  FROM dots),
         |probes AS (
         |  SELECT vec_id, table_id, bucket FROM sig
         |  UNION ALL
         |  SELECT f.vec_id, f.table_id,
         |    xor(s.bucket, CAST(1 AS BIGINT) << f.plane_idx) AS bucket
         |  FROM flips f JOIN sig s USING (vec_id, table_id)
         |  WHERE f.fr <= ${probes - 1})""".stripMargin
  }

  /** CTE chain `v → …sig… → cand` for LSH near-dup PAIR candidates at
    * corpus size n; select from `cand` (join back to `v` for the exact
    * verify). probes = 1 keeps the symmetric `<`-halved self-join; the
    * multi-probe join is asymmetric (probes vs base) so pairs are
    * least/greatest-normalized, matching lshNearDupPairs. */
  private[operators] def lshPairCtes(n: Long): String = {
    val cfg = SimilarityOps.lshSizing(n)
    val tables = SimilarityOps.lshTables(cfg.planes, cfg.tables, dim = 64)
    val cand =
      if (cfg.probes <= 1)
        """cand AS (
          |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          |  FROM sig a JOIN sig b ON a.table_id = b.table_id
          |         AND a.bucket = b.bucket AND a.vec_id < b.vec_id)""".stripMargin
      else
        """cand AS (
          |  SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a,
          |                  greatest(a.vec_id, b.vec_id) AS id_b
          |  FROM probes a JOIN sig b ON a.table_id = b.table_id
          |         AND a.bucket = b.bucket AND a.vec_id != b.vec_id)""".stripMargin
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |      FROM embeddings),
       |${lshSigCtes(tables, cfg.probes)},
       |$cand""".stripMargin
  }

  /** q39 oracle at corpus size n: full LSH top-k pipeline (signatures →
    * buckets → candidates → exact ranking), query side = probe buckets,
    * index side = base signatures, as lshTopK. */
  private[operators] def knnLshOracleSql(n: Long): String = {
    val cfg = SimilarityOps.lshSizing(n)
    val tables = SimilarityOps.lshTables(cfg.planes, cfg.tables, dim = 64)
    val qside = if (cfg.probes <= 1) "sig" else "probes"
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |           FROM embeddings),
       |${lshSigCtes(tables, cfg.probes)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
       |  FROM $qside a JOIN sig b ON a.table_id = b.table_id
       |         AND a.bucket = b.bucket AND a.vec_id != b.vec_id),
       |sims AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    list_sum(list_transform(range(1, 65), i -> q.e[i] * n.e[i])) AS sim
       |  FROM cand c JOIN v q ON q.vec_id = c.query_id
       |              JOIN v n ON n.vec_id = c.neighbor_id)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id,
       |       round(sim, 6) AS sim_r
       |FROM (SELECT query_id, neighbor_id, sim,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY sim DESC, neighbor_id ASC) AS rnk
       |      FROM sims)
       |WHERE rnk <= 3""".stripMargin
  }

  /** q221 oracle at corpus size n: ANN recall@5 against brute-force
    * ground truth for the constant probe set (vec_id < 50). The ANN
    * side replays the full lshTopK pipeline (signatures → buckets →
    * candidates → exact ranking, query side filtered to the probes);
    * the truth side is the q37 brute-force window. Recall is the
    * per-probe |ANN∩BF| / 5 in integer ppm. */
  /** LSH-kNN in-degree histogram oracle: the q221 signature/candidate
    * CTE chain with EVERY vector as a query, then the per-neighbor
    * in-degree count left-joined back so antihubs report indeg 0. */
  private[operators] def hubnessOracleSql(n: Long): String = {
    val cfg = SimilarityOps.lshSizing(n)
    val tables = SimilarityOps.lshTables(cfg.planes, cfg.tables, dim = 64)
    val qside = if (cfg.probes <= 1) "sig" else "probes"
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |           FROM embeddings),
       |${lshSigCtes(tables, cfg.probes)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
       |  FROM $qside a JOIN sig b ON a.table_id = b.table_id
       |         AND a.bucket = b.bucket AND a.vec_id != b.vec_id),
       |sims AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    list_sum(list_transform(range(1, 65), i -> q.e[i] * n.e[i])) AS sim
       |  FROM cand c JOIN v q ON q.vec_id = c.query_id
       |              JOIN v n ON n.vec_id = c.neighbor_id),
       |ann AS (SELECT query_id, neighbor_id FROM (
       |          SELECT query_id, neighbor_id,
       |            row_number() OVER (PARTITION BY query_id
       |                               ORDER BY sim DESC, neighbor_id ASC)
       |              AS rnk
       |          FROM sims) WHERE rnk <= 5),
       |ind AS (SELECT neighbor_id, count(*) AS ind FROM ann GROUP BY 1)
       |SELECT CAST(coalesce(ind.ind, 0) AS BIGINT) AS indeg,
       |  CAST(count(*) AS BIGINT) AS n_vecs
       |FROM v LEFT JOIN ind ON ind.neighbor_id = v.vec_id
       |GROUP BY 1""".stripMargin
  }

  private[operators] def annRecallOracleSql(n: Long): String = {
    val cfg = SimilarityOps.lshSizing(n)
    val tables = SimilarityOps.lshTables(cfg.planes, cfg.tables, dim = 64)
    val qside = if (cfg.probes <= 1) "sig" else "probes"
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |           FROM embeddings),
       |${lshSigCtes(tables, cfg.probes)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
       |  FROM $qside a JOIN sig b ON a.table_id = b.table_id
       |         AND a.bucket = b.bucket AND a.vec_id != b.vec_id
       |  WHERE a.vec_id < 50),
       |sims AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    list_sum(list_transform(range(1, 65), i -> q.e[i] * n.e[i])) AS sim
       |  FROM cand c JOIN v q ON q.vec_id = c.query_id
       |              JOIN v n ON n.vec_id = c.neighbor_id),
       |ann AS (SELECT query_id, neighbor_id FROM (
       |          SELECT query_id, neighbor_id,
       |            row_number() OVER (PARTITION BY query_id
       |                               ORDER BY sim DESC, neighbor_id ASC)
       |              AS rnk
       |          FROM sims) WHERE rnk <= 5),
       |bfs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, 65), i -> q.e[i] * c.e[i])) AS sim
       |  FROM v q JOIN v c ON c.vec_id != q.vec_id
       |  WHERE q.vec_id < 50),
       |bf AS (SELECT query_id, neighbor_id FROM (
       |         SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY sim DESC, neighbor_id ASC)
       |             AS rnk
       |         FROM bfs) WHERE rnk <= 5)
       |SELECT bf.query_id, CAST(count(ann.neighbor_id) AS BIGINT) AS n_hits,
       |  CAST((count(ann.neighbor_id) * 1000000) // 5 AS BIGINT)
       |    AS recall_ppm
       |FROM bf LEFT JOIN ann ON ann.query_id = bf.query_id
       |  AND ann.neighbor_id = bf.neighbor_id
       |GROUP BY 1""".stripMargin
  }

  /** q50 oracle at corpus size n: LSH pair candidates + exact verify. */
  private[operators] def neardupLshOracleSql(n: Long): String =
    s"""WITH ${lshPairCtes(n)}
       |SELECT c.id_a, c.id_b,
       |  round(list_sum(list_transform(range(1, 65),
       |          i -> x.e[i] * y.e[i])), 6) AS sim_r
       |FROM cand c JOIN v x ON x.vec_id = c.id_a
       |            JOIN v y ON y.vec_id = c.id_b
       |WHERE list_sum(list_transform(range(1, 65),
       |        i -> x.e[i] * y.e[i])) >= 0.4""".stripMargin

  /** q74 oracle at corpus size n: first-nlist seed cells, within-cell
    * ≥0.4 edges, recursive-CTE transitive closure. */
  private[operators] def semanticDedupOracleSql(n: Long): String = {
    val nlist = math.max(4, math.ceil(math.sqrt(n / 8.0)).toInt)
    s"""WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |                     FROM embeddings),
       |c1 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS ce
       |  FROM v ORDER BY vec_id LIMIT $nlist),
       |s1 AS (
       |  SELECT a.vec_id, c.cell,
       |    list_sum(list_transform(range(1, 65), i -> a.e[i] * c.ce[i])) AS sim
       |  FROM v a CROSS JOIN c1 c),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY sim DESC, cell ASC) AS r
       |    FROM s1) WHERE r = 1),
       |pairs AS (
       |  SELECT ax.vec_id AS a, ay.vec_id AS b
       |  FROM assign ax JOIN assign ay
       |    ON ax.cell = ay.cell AND ax.vec_id < ay.vec_id
       |  JOIN v x ON x.vec_id = ax.vec_id
       |  JOIN v y ON y.vec_id = ay.vec_id
       |  WHERE list_sum(list_transform(range(1, 65),
       |          i -> x.e[i] * y.e[i])) >= 0.4),
       |e AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
       |r(id, m) AS (
       |  SELECT vec_id, vec_id FROM v
       |  UNION
       |  SELECT e.b, r.m FROM r JOIN e ON e.a = r.id)
       |SELECT id AS vec_id, CAST(min(m) AS BIGINT) AS cluster_id,
       |       min(m) <> id AS is_dup
       |FROM r GROUP BY id""".stripMargin
  }

  /** q45 oracle at corpus size n: two-level IVF with first-by-id seeds
    * at both levels (nprobe1 = nprobe2 = 2 are scale-independent). */
  private[operators] def ivfHierOracleSql(n: Long): String = {
    val (nlist1, nlist2) = SimilarityOps.ivfHierSizing(n)
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |c1 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS ce
       |  FROM v ORDER BY vec_id LIMIT $nlist1),
       |s1 AS (
       |  SELECT a.vec_id, c.cell,
       |    list_sum(list_transform(range(1, 65), i -> a.e[i] * c.ce[i])) AS sim
       |  FROM v a CROSS JOIN c1 c),
       |r1 AS (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS r
       |  FROM s1),
       |assign1 AS (SELECT vec_id, cell AS c1 FROM r1 WHERE r = 1),
       |probe1 AS (SELECT vec_id, cell AS c1 FROM r1 WHERE r <= 2),
       |sub AS (
       |  SELECT c1, rn - 1 AS c2, e AS ce
       |  FROM (SELECT a.c1, v.e,
       |          row_number() OVER (PARTITION BY a.c1 ORDER BY a.vec_id) AS rn
       |        FROM assign1 a JOIN v ON v.vec_id = a.vec_id)
       |  WHERE rn <= $nlist2),
       |s2 AS (
       |  SELECT a.vec_id, a.c1, s.c2,
       |    list_sum(list_transform(range(1, 65), i -> v.e[i] * s.ce[i])) AS sim
       |  FROM assign1 a JOIN v ON v.vec_id = a.vec_id
       |                 JOIN sub s ON s.c1 = a.c1),
       |assign2 AS (
       |  SELECT vec_id AS neighbor_id, c1, c2
       |  FROM (SELECT vec_id, c1, c2,
       |          row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY sim DESC, c2 ASC) AS r
       |        FROM s2)
       |  WHERE r = 1),
       |ps AS (
       |  SELECT p.vec_id, p.c1, s.c2,
       |    list_sum(list_transform(range(1, 65), i -> v.e[i] * s.ce[i])) AS sim
       |  FROM probe1 p JOIN v ON v.vec_id = p.vec_id
       |                JOIN sub s ON s.c1 = p.c1),
       |probe2 AS (
       |  SELECT vec_id AS query_id, c1, c2
       |  FROM (SELECT vec_id, c1, c2,
       |          row_number() OVER (PARTITION BY vec_id, c1
       |                             ORDER BY sim DESC, c2 ASC) AS r
       |        FROM ps)
       |  WHERE r <= 2),
       |cand AS (
       |  SELECT p.query_id, a.neighbor_id
       |  FROM probe2 p JOIN assign2 a ON a.c1 = p.c1 AND a.c2 = p.c2
       |               AND p.query_id != a.neighbor_id),
       |sims AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    list_sum(list_transform(range(1, 65), i -> q.e[i] * n.e[i])) AS sim
       |  FROM cand c JOIN v q ON q.vec_id = c.query_id
       |              JOIN v n ON n.vec_id = c.neighbor_id)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id,
       |       round(sim, 6) AS sim_r
       |FROM (SELECT query_id, neighbor_id, sim,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY sim DESC, neighbor_id ASC) AS rnk
       |      FROM sims)
       |WHERE rnk <= 3""".stripMargin
  }

  /** CTE chain `v → anch → cb → cbn → scored → codes → recon` re-deriving
    * the stride-anchor PQ codebook (m = 4, k = 16) and each vector's
    * reconstruction at corpus size n — shared by q64/q68. */
  private def pqReconCtes(n: Long): String = {
    val stride = math.max(1L, n / 16)
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |      FROM embeddings),
       |anch AS (SELECT vec_id, e FROM v
       |         WHERE vec_id % $stride = 0 AND vec_id < ${stride * 16}),
       |cb AS (
       |  SELECT CAST(a.vec_id // $stride AS INT) AS c, s.mi,
       |    list_transform(range(1, 17), i -> a.e[s.mi * 16 + i]) AS cv
       |  FROM anch a CROSS JOIN (SELECT unnest(range(0, 4)) AS mi) s),
       |cbn AS (
       |  SELECT c, mi, cv,
       |    list_append(cv, -(list_sum(list_transform(range(1, 17),
       |      i -> cv[i] * cv[i])) / 2.0)) AS cva
       |  FROM cb),
       |scored AS (
       |  SELECT v.vec_id, b.mi, b.c,
       |    list_sum(list_transform(range(1, 17),
       |      i -> v.e[b.mi * 16 + i] * b.cva[i])) + 1.0 * b.cva[17] AS s
       |  FROM v CROSS JOIN cbn b),
       |codes AS (
       |  SELECT vec_id, mi, c FROM (
       |    SELECT vec_id, mi, c,
       |      row_number() OVER (PARTITION BY vec_id, mi
       |                         ORDER BY s DESC, c ASC) AS rn
       |    FROM scored) WHERE rn = 1),
       |recon AS (
       |  SELECT codes.vec_id, flatten(list(b.cv ORDER BY codes.mi)) AS r
       |  FROM codes JOIN cbn b ON b.mi = codes.mi AND b.c = codes.c
       |  GROUP BY codes.vec_id)""".stripMargin
  }

  /** q64 oracle at corpus size n: PQ-ADC shortlist + exact rerank. */
  private[operators] def pqKnnOracleSql(n: Long): String =
    s"""WITH ${pqReconCtes(n)},
       |adc AS (
       |  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, 65), i -> q.e[i] * r.r[i])) AS adc
       |  FROM v q JOIN recon r ON r.vec_id != q.vec_id
       |  WHERE q.vec_id < 10),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY adc DESC, neighbor_id ASC) AS cr
       |    FROM adc) WHERE cr <= 20),
       |rr AS (
       |  SELECT sh.query_id, sh.neighbor_id,
       |    list_sum(list_transform(range(1, 65), i -> q.e[i] * c.e[i])) AS sim
       |  FROM short sh
       |  JOIN v q ON q.vec_id = sh.query_id
       |  JOIN v c ON c.vec_id = sh.neighbor_id)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id,
       |       round(sim, 6) AS sim_r
       |FROM (SELECT query_id, neighbor_id, sim,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY sim DESC, neighbor_id ASC) AS rnk
       |      FROM rr)
       |WHERE rnk <= 5""".stripMargin

  /** q68 oracle at corpus size n: two-level coarse quantizer (sizing
    * from ivfHierSizing(n, 8)) + PQ-ADC + exact rerank. */
  private[operators] def ivfPqOracleSql(n: Long): String = {
    val (nlist1, nlist2) = SimilarityOps.ivfHierSizing(n, targetCell = 8)
    s"""WITH ${pqReconCtes(n)},
       |c1 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS ce
       |  FROM v ORDER BY vec_id LIMIT $nlist1),
       |s1 AS (
       |  SELECT a.vec_id, c.cell,
       |    list_sum(list_transform(range(1, 65), i -> a.e[i] * c.ce[i])) AS sim
       |  FROM v a CROSS JOIN c1 c),
       |r1 AS (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY sim DESC, cell ASC) AS r
       |  FROM s1),
       |assign1 AS (SELECT vec_id, cell AS c1 FROM r1 WHERE r = 1),
       |probe1 AS (SELECT vec_id, cell AS c1 FROM r1 WHERE r <= 2 AND vec_id < 10),
       |sub AS (
       |  SELECT c1, rn - 1 AS c2, e AS ce
       |  FROM (SELECT a.c1, v.e,
       |          row_number() OVER (PARTITION BY a.c1 ORDER BY a.vec_id) AS rn
       |        FROM assign1 a JOIN v ON v.vec_id = a.vec_id)
       |  WHERE rn <= $nlist2),
       |s2 AS (
       |  SELECT a.vec_id, a.c1, s.c2,
       |    list_sum(list_transform(range(1, 65), i -> v.e[i] * s.ce[i])) AS sim
       |  FROM assign1 a JOIN v ON v.vec_id = a.vec_id
       |                 JOIN sub s ON s.c1 = a.c1),
       |assign2 AS (
       |  SELECT vec_id AS neighbor_id, c1, c2
       |  FROM (SELECT vec_id, c1, c2,
       |          row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY sim DESC, c2 ASC) AS r
       |        FROM s2)
       |  WHERE r = 1),
       |ps AS (
       |  SELECT p.vec_id, p.c1, s.c2,
       |    list_sum(list_transform(range(1, 65), i -> v.e[i] * s.ce[i])) AS sim
       |  FROM probe1 p JOIN v ON v.vec_id = p.vec_id
       |                JOIN sub s ON s.c1 = p.c1),
       |probe2 AS (
       |  SELECT vec_id AS query_id, c1, c2
       |  FROM (SELECT vec_id, c1, c2,
       |          row_number() OVER (PARTITION BY vec_id, c1
       |                             ORDER BY sim DESC, c2 ASC) AS r
       |        FROM ps)
       |  WHERE r <= 2),
       |adc AS (
       |  SELECT p.query_id, a.neighbor_id,
       |    list_sum(list_transform(range(1, 65), i -> q.e[i] * r.r[i])) AS adc
       |  FROM probe2 p
       |  JOIN assign2 a ON a.c1 = p.c1 AND a.c2 = p.c2
       |                AND a.neighbor_id != p.query_id
       |  JOIN recon r ON r.vec_id = a.neighbor_id
       |  JOIN v q ON q.vec_id = p.query_id),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY adc DESC, neighbor_id ASC) AS cr
       |    FROM adc) WHERE cr <= 20),
       |rr AS (
       |  SELECT sh.query_id, sh.neighbor_id,
       |    list_sum(list_transform(range(1, 65), i -> q.e[i] * c.e[i])) AS sim
       |  FROM short sh
       |  JOIN v q ON q.vec_id = sh.query_id
       |  JOIN v c ON c.vec_id = sh.neighbor_id)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id,
       |       round(sim, 6) AS sim_r
       |FROM (SELECT query_id, neighbor_id, sim,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY sim DESC, neighbor_id ASC) AS rnk
       |      FROM rr)
       |WHERE rnk <= 5""".stripMargin
  }

  def qs: Seq[Q] = Seq(

    // SemDeDup-style semantic dedup: coarse cells block the pair
    // search (density-adaptive, vs q50/q52's random hyperplanes),
    // within-cell cosine >= 0.4 pairs become edges, connected
    // components label every vector with its duplicate cluster and
    // is_dup marks the rows a curation pass drops (canonical = min
    // id). Oracle re-derives the first-8-seed cells and takes the
    // transitive closure with a recursive CTE (q53's pattern).
    Q("q74_semantic_dedup", (s, d) => {
      val emb = t(s, d, "embeddings")
      val n = Stats.parquetRowCount(s, s"$d/embeddings.parquet")
      val nlist = math.max(4, math.ceil(math.sqrt(n / 8.0)).toInt)
      SimilarityOps.semanticDedupLabels(emb, "vec_id", "embedding",
        nlist = nlist, threshold = 0.4)
    }, Some(semanticDedupOracleSql(500)),
      oracleDyn = Some((s, d) => semanticDedupOracleSql(embedN(s, d)))),

    // exact top-5 cosine neighbors for the first 20 vectors (embeddings
    // are unit-norm, so dot product == cosine). Broadcast queries; one
    // corpus pass; window top-k.
    Q("q37_knn_brute", (s, d) => {
      val emb = t(s, d, "embeddings")
      SimilarityOps.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
    }, Some("""
      WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
                 FROM embeddings WHERE vec_id < 20),
      c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
            FROM embeddings),
      s AS (SELECT query_id, neighbor_id,
              list_sum(list_transform(range(1, 65), i -> qe[i] * ce[i])) AS sim
            FROM q, c WHERE neighbor_id != query_id)
      SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id,
             round(sim, 6) AS sim_r
      FROM (SELECT query_id, neighbor_id, sim,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id ASC) AS rnk
            FROM s)
      WHERE rnk <= 5""")),

    // row-local vector statistics (zip_with/aggregate/array ops).
    Q("q38_vector_stats", (s, d) => {
      import s.implicits._
      t(s, d, "embeddings").select(
        $"vec_id",
        $"label".cast("long").as("label"),
        size($"embedding").cast("long").as("dim"),
        round(array_max($"embedding").cast("double"), 6).as("max_comp"),
        expr("array_position(embedding, array_max(embedding))")
          .cast("long").as("argmax"))
    }, Some("""
      SELECT vec_id, CAST(label AS BIGINT) AS label,
        CAST(len(embedding) AS BIGINT) AS dim,
        round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_comp,
        CAST(list_position(embedding, list_max(embedding)) AS BIGINT) AS argmax
      FROM embeddings""")),

    // hyperplane-LSH ANN: top-3 neighbors from multi-table bucket
    // candidates. Plane count adapts to corpus size (avg bucket ≈ 25
    // vectors) so candidate volume stays ~n·25·L instead of drifting
    // quadratic as n grows past the bucket count. n comes from parquet
    // footer metadata (catalog stats), NOT a df.count() — no extra pass
    // over the corpus before the real job. The seeded hyperplanes are
    // interpolated into the oracle SQL as exact double literals, so the
    // FULL pipeline (signatures -> buckets -> candidates -> exact
    // ranking) is hash-checked vs DuckDB; the oracle bakes the sf0.01
    // plane count (n=500 -> 5 planes), matching the dir the driver
    // verifies. Recall additionally pinned in SimilaritySpec.
    Q("q39_knn_lsh", (s, d) => {
      val n = Stats.parquetRowCount(s, s"$d/embeddings.parquet")
      // recall-governed UNCAPPED sizing (SimilarityOps.lshSizing):
      // planes grow with log2(n) so buckets stay ≈25 at every n, table
      // count and multi-probe depth grow to hold recall as p^planes
      // shrinks. At sf0.01 this resolves to (5 planes, 8 tables,
      // 1 probe) — exactly the shape the oracle bakes.
      val cfg = SimilarityOps.lshSizing(n)
      val tables = SimilarityOps.lshTables(cfg.planes, cfg.tables, dim = 64)
      SimilarityOps.lshTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        tables, k = 3, probes = cfg.probes)
    }, Some(knnLshOracleSql(500)),
      oracleDyn = Some((s, d) => knnLshOracleSql(embedN(s, d)))),

    // embedding-cosine near-dup pairs — brute-force baseline with an
    // exact oracle (unit vectors: dot == cosine). Quadratic; excluded
    // from bench (LSH/IVF are the scale paths).
    Q("q44_embed_neardup", (s, d) => {
      SimilarityOps.cosinePairs(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.4)
    }, Some("""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i])), 6) AS sim_r
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i])) >= 0.4"""),
      bench = false),

    // embedding near-dup AT SCALE: LSH-bucket candidates + exact
    // threshold verify — the linear-ish path whose quadratic baseline
    // is q44. Deterministic seeded planes interpolated into the oracle
    // (sf0.01 sizing: 5 planes), so the full pipeline hash-checks;
    // recall vs q44's exact pair set pinned in SimilaritySpec.
    Q("q50_neardup_lsh", (s, d) => {
      val n = Stats.parquetRowCount(s, s"$d/embeddings.parquet")
      val cfg = SimilarityOps.lshSizing(n) // uncapped; see q39
      val tables = SimilarityOps.lshTables(cfg.planes, cfg.tables, dim = 64)
      SimilarityOps.lshNearDupPairs(t(s, d, "embeddings"), "vec_id",
        "embedding", tables, threshold = 0.4, probes = cfg.probes)
    }, Some(neardupLshOracleSql(500)),
      oracleDyn = Some((s, d) => neardupLshOracleSql(embedN(s, d)))),

    // MULTI-PROBE LSH near-dup — the recall-compensation path that lets
    // the plane count grow uncapped at lake scale, exercised through the
    // correctness gate with a deliberately long code (6 planes) and few
    // tables (2) so probing does real work at sf0.01. The oracle replays
    // hp_probes exactly: per (vector, table), the base bucket plus the
    // probes-1 lowest-|dot| single-bit flips (ties to the lower plane
    // index, matching the expression's strict-< scan), pairs colliding
    // in either probe direction, least/greatest-normalized.
    Q("q52_neardup_multiprobe", (s, d) => {
      val tables = SimilarityOps.lshTables(planes = 6, tables = 2, dim = 64)
      SimilarityOps.lshNearDupPairs(t(s, d, "embeddings"), "vec_id",
        "embedding", tables, threshold = 0.4, probes = 3)
    }, Some {
      val tables = SimilarityOps.lshTables(planes = 6, tables = 2, dim = 64)
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |           FROM embeddings),
         |planes(table_id, plane_idx, pv) AS (VALUES
         |${planeValuesSql(tables)}),
         |dots AS (
         |  SELECT v.vec_id, p.table_id, p.plane_idx,
         |    list_sum(list_transform(range(1, 65), i -> v.e[i] * p.pv[i])) AS d
         |  FROM v CROSS JOIN planes p),
         |sig AS (
         |  SELECT vec_id, table_id,
         |    CAST(sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << plane_idx
         |             ELSE 0 END) AS BIGINT) AS bucket
         |  FROM dots GROUP BY vec_id, table_id),
         |flips AS (
         |  SELECT vec_id, table_id, plane_idx,
         |    row_number() OVER (PARTITION BY vec_id, table_id
         |                       ORDER BY abs(d) ASC, plane_idx ASC) AS fr
         |  FROM dots),
         |probes AS (
         |  SELECT vec_id, table_id, bucket FROM sig
         |  UNION ALL
         |  SELECT f.vec_id, f.table_id,
         |    xor(s.bucket, CAST(1 AS BIGINT) << f.plane_idx) AS bucket
         |  FROM flips f JOIN sig s USING (vec_id, table_id)
         |  WHERE f.fr <= 2),
         |cand AS (
         |  SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a,
         |                  greatest(a.vec_id, b.vec_id) AS id_b
         |  FROM probes a JOIN sig b ON a.table_id = b.table_id
         |         AND a.bucket = b.bucket AND a.vec_id != b.vec_id)
         |SELECT c.id_a, c.id_b,
         |  round(list_sum(list_transform(range(1, 65),
         |          i -> x.e[i] * y.e[i])), 6) AS sim_r
         |FROM cand c JOIN v x ON x.vec_id = c.id_a
         |            JOIN v y ON y.vec_id = c.id_b
         |WHERE list_sum(list_transform(range(1, 65),
         |        i -> x.e[i] * y.e[i])) >= 0.4""".stripMargin
    }),

    // HIERARCHICAL IVF ANN (the 100×-safe shape): √-sized coarse level
    // broadcast + row-local argmax, distributed per-cell sub-centroid
    // matrices joined on the coarse cell — total cells still ≈ n/64 but
    // per-row assignment work and the broadcast model both grow as √n
    // instead of n (flat nlist=n/64 was O(n²/64) total work). Fully
    // deterministic (first-by-id seeds at both levels, argmax ties to
    // the lower index), so the oracle replays the ENTIRE two-level
    // pipeline in SQL; the (3, 3, 2, 2) literals match sf0.01's n=500
    // via ivfHierSizing (the dir the driver verifies). Recall pinned
    // vs flat IVF in SimilaritySpec; sizing growth pinned in its own
    // test.
    Q("q45_knn_ivf", (s, d) => {
      val n = Stats.parquetRowCount(s, s"$d/embeddings.parquet")
      val (nlist1, nlist2) = SimilarityOps.ivfHierSizing(n)
      SimilarityOps.ivfHierTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        nlist1 = nlist1, nlist2 = nlist2, nprobe1 = 2, nprobe2 = 2, k = 3)
    }, Some(ivfHierOracleSql(500)),
      oracleDyn = Some((s, d) => ivfHierOracleSql(embedN(s, d)))),

    // int8 scalar quantization of the embedding corpus — the compression
    // path for lake-scale vector storage (4x smaller than float32, decode
    // is one multiply-add per dim). Per-dim ranges from one stats pass
    // (model-sized collect); encode + reconstruction error are row-local.
    // Outputs are engine-exact: integer code checksum + clipped count,
    // and an ordered-fold mse (floor-based codes, no round-half modes).
    Q("q59_vector_quantize", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val ranges = SimilarityOps.dimRanges(emb, "embedding")
      val (codeSum, nClipped, mse) =
        SimilarityOps.int8QuantStats($"embedding", ranges)
      emb.select($"vec_id", codeSum.as("code_sum"),
        nClipped.as("n_clipped"), mse.as("mse"))
    }, Some("""
      WITH dims AS (
        SELECT i, min(CAST(v AS DOUBLE)) AS mn, max(CAST(v AS DOUBLE)) AS mx
        FROM (SELECT unnest(embedding) AS v,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)
        GROUP BY i),
      da AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
             FROM dims)
      SELECT e.vec_id,
        CAST(list_sum(list_transform(range(1, len(e.embedding) + 1), i ->
          CAST(least(255.0, greatest(0.0,
            floor((CAST(e.embedding[i] AS DOUBLE) - da.mns[i]) * 256.0
                  / (da.mxs[i] - da.mns[i] + 1e-12)))) AS BIGINT)))
          AS BIGINT) AS code_sum,
        CAST(list_sum(list_transform(range(1, len(e.embedding) + 1), i ->
          CASE WHEN least(255.0, greatest(0.0,
              floor((CAST(e.embedding[i] AS DOUBLE) - da.mns[i]) * 256.0
                    / (da.mxs[i] - da.mns[i] + 1e-12)))) IN (0.0, 255.0)
            THEN 1 ELSE 0 END)) AS BIGINT) AS n_clipped,
        round(list_sum(list_transform(range(1, len(e.embedding) + 1), i ->
          (CAST(e.embedding[i] AS DOUBLE)
            - (da.mns[i] + (least(255.0, greatest(0.0,
                 floor((CAST(e.embedding[i] AS DOUBLE) - da.mns[i]) * 256.0
                       / (da.mxs[i] - da.mns[i] + 1e-12)))) + 0.5)
               * (da.mxs[i] - da.mns[i] + 1e-12) / 256.0))
          * (CAST(e.embedding[i] AS DOUBLE)
            - (da.mns[i] + (least(255.0, greatest(0.0,
                 floor((CAST(e.embedding[i] AS DOUBLE) - da.mns[i]) * 256.0
                       / (da.mxs[i] - da.mns[i] + 1e-12)))) + 0.5)
               * (da.mxs[i] - da.mns[i] + 1e-12) / 256.0))))
          / len(e.embedding), 9) AS mse
      FROM embeddings e CROSS JOIN da""")),

    // memory-bounded ANN: int8-code shortlist (integer dot, exact) +
    // float rerank of the shortlist only — the SQ8+rerank pattern for
    // corpora whose float vectors don't fit scoring memory at 100 TB.
    Q("q61_knn_sq8", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val ranges = SimilarityOps.dimRanges(emb, "embedding")
      SimilarityOps.sqTopK(emb, emb.filter($"vec_id" < 20), "vec_id",
        "embedding", ranges, candidates = 20, k = 5)
    }, Some("""
      WITH dims AS (
        SELECT i, min(CAST(v AS DOUBLE)) AS mn, max(CAST(v AS DOUBLE)) AS mx
        FROM (SELECT unnest(embedding) AS v,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)
        GROUP BY i),
      da AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
             FROM dims),
      cv AS (
        SELECT vec_id,
          list_transform(range(1, len(embedding) + 1), i ->
            CAST(least(255.0, greatest(0.0,
              floor((CAST(embedding[i] AS DOUBLE) - da.mns[i]) * 256.0
                    / (da.mxs[i] - da.mns[i] + 1e-12)))) AS BIGINT)) AS codes,
          CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings CROSS JOIN da),
      s AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          list_sum(list_transform(range(1, 65), i -> q.codes[i] * c.codes[i])) AS qscore
        FROM cv q JOIN cv c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 20),
      short AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY qscore DESC, neighbor_id ASC) AS cr
          FROM s)
        WHERE cr <= 20),
      r AS (
        SELECT sh.query_id, sh.neighbor_id,
          list_sum(list_transform(range(1, 65), i -> q.e[i] * c.e[i])) AS sim
        FROM short sh
        JOIN cv q ON q.vec_id = sh.query_id
        JOIN cv c ON c.vec_id = sh.neighbor_id)
      SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id,
             round(sim, 6) AS sim_r
      FROM (SELECT query_id, neighbor_id, sim,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id ASC) AS rnk
            FROM r)
      WHERE rnk <= 5""")),

    // product-quantization ANN with asymmetric distance: the corpus lives
    // as 4 codes/vector (one per 16-dim subspace, 16 centroids each — 4
    // bytes vs 256 for float32, 32x), vectors are reconstructed on the
    // fly from the broadcast codebook for ADC scoring, and only the
    // 20-row shortlist fetches float vectors for the exact rerank. The
    // codebook is derived from deterministic stride anchors (vec_id
    // multiples of n/16) so the oracle re-derives it IN SQL from the
    // same parquet — no averaged floats whose summation order could
    // diverge between engines. Oracle bakes the sf0.01 sizing (n=500 →
    // stride 31), as q39 does for planes.
    Q("q64_knn_pq", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val n = Stats.parquetRowCount(s, s"$d/embeddings.parquet")
      val cb = SimilarityOps.pqAnchorCodebook(
        emb, "vec_id", "embedding", n, m = 4, k = 16)
      SimilarityOps.pqTopK(emb, emb.filter($"vec_id" < 10),
        "vec_id", "embedding", cb, candidates = 20, k = 5)
    }, Some(pqKnnOracleSql(500)),
      oracleDyn = Some((s, d) => pqKnnOracleSql(embedN(s, d)))),

    // HIERARCHICAL IVF-PQ — the composition a production vector service
    // runs at lake scale: a TWO-LEVEL coarse quantizer (q45's scheme —
    // √cells-row broadcast level-1 literal, level-2 sub-matrices riding
    // a (c1)-keyed join) bounds the scanned fraction, PQ codes cut
    // resident bytes 32x (ADC from the broadcast codebook), floats
    // touched only for the shortlist rerank. Every model is derived
    // deterministically (first-by-id seeds both levels, stride-anchor
    // codebook), so the oracle re-derives ALL of them in SQL and
    // replays the identical assignment/probe/score arithmetic
    // (nlist1 = nlist2 = 8 from ivfHierSizing(500, 8) and stride 31
    // baked for sf0.01, as q39/q45/q64 bake theirs).
    Q("q68_knn_ivfpq", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val n = Stats.parquetRowCount(s, s"$d/embeddings.parquet")
      val (nlist1, nlist2) = SimilarityOps.ivfHierSizing(n, targetCell = 8)
      val cb = SimilarityOps.pqAnchorCodebook(
        emb, "vec_id", "embedding", n, m = 4, k = 16)
      SimilarityOps.ivfHierPqTopK(emb, emb.filter($"vec_id" < 10),
        "vec_id", "embedding", nlist1 = nlist1, nlist2 = nlist2,
        nprobe1 = 2, nprobe2 = 2, cb, candidates = 20, k = 5)
    }, Some(ivfPqOracleSql(500)),
      oracleDyn = Some((s, d) => ivfPqOracleSql(embedN(s, d)))),

    // distributed k-means M-step (centroid accumulation): per (label,
    // dimension) the component sum and member count — the numerator/
    // denominator pair every cluster-update or per-source embedding
    // diagnostic needs. DIVISION-FREE on purpose: emitting sum + count
    // avoids cross-engine integer-division semantics entirely (both
    // Spark `div` and DuckDB `//` truncate toward zero on integers,
    // but emitting sum + count keeps consumers free to divide in
    // their own numeric domain and precision). Each component is quantized
    // row-locally to milli-units (float -> exact double -> floor, the
    // engine-identical path), so the per-(label,dim) sums are pure
    // integer adds — order-independent across partitionings. One
    // posexplode (rows = n x 64) + ONE map-side-combined shuffle on
    // (label, dim); output is labels x dims — model-sized at any
    // corpus size.
    Q("q118_centroid_accum", (s, d) => {
      import s.implicits._
      t(s, d, "embeddings")
        .select($"label".cast("long").as("label"),
          posexplode($"embedding").as(Seq("i", "comp")))
        .select($"label", $"i".cast("long").as("dim"),
          floor($"comp".cast("double") * 1000).cast("long").as("milli"))
        .groupBy($"label", $"dim")
        .agg(sum($"milli").cast("long").as("sum_milli"),
          count(lit(1)).cast("long").as("n_vecs"))
    }, Some("""
      WITH e AS (
        SELECT CAST(label AS BIGINT) AS label,
          generate_subscripts(embedding, 1) - 1 AS dim,
          unnest(embedding) AS comp
        FROM embeddings)
      SELECT label, CAST(dim AS BIGINT) AS dim,
        CAST(sum(CAST(floor(CAST(comp AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
          AS sum_milli,
        CAST(count(*) AS BIGINT) AS n_vecs
      FROM e GROUP BY 1, 2""")),

    // nearest-centroid classification report: train per-label centroids
    // on the even vec_ids (the q118 milli-quantized accumulation —
    // integer sums, then ONE double division), classify the odd held-out
    // half by arg-min squared-L2 distance to the centroids, and report
    // per-label accuracy — the embedding-space sanity check a labeling /
    // clustering pipeline runs before trusting its labels. Exactness:
    // each (x_i - c_i)^2 term is floor-quantized to pico units BEFORE
    // the per-(vec,label) sum, so the sums are order-independent integer
    // adds (identical across partitionings and engines); arg-min
    // tie-breaks on label. Scale: the centroid frame is model-sized
    // (labels x dims) and broadcast; the distance agg is one shuffle on
    // (vec, label); the arg-min window is bounded by the label count per
    // vec; the report is label-count-sized.
    Q("q123_nearest_centroid", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val cent = emb.filter($"vec_id" % 2 === 0)
        .select($"label".cast("long").as("label"),
          posexplode($"embedding").as(Seq("i", "comp")))
        .select($"label", $"i".cast("long").as("dim"),
          floor($"comp".cast("double") * 1000).cast("long").as("milli"))
        .groupBy($"label", $"dim")
        .agg((sum($"milli").cast("double")
          / (count(lit(1)) * 1000L).cast("double")).as("c"))
      val test = emb.filter($"vec_id" % 2 === 1)
        .select($"vec_id", $"label".cast("long").as("true_label"),
          posexplode($"embedding").as(Seq("i", "comp")))
        .select($"vec_id", $"true_label", $"i".cast("long").as("dim"),
          $"comp".cast("double").as("x"))
      val dist = test.join(broadcast(cent), "dim")
        .withColumn("t",
          floor(($"x" - $"c") * ($"x" - $"c") * 1000000000000d).cast("long"))
        .groupBy($"vec_id", $"true_label", $"label")
        .agg(sum($"t").as("d2"))
      val w = Window.partitionBy($"vec_id").orderBy($"d2".asc, $"label".asc)
      dist.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .groupBy($"true_label")
        .agg(count(lit(1)).cast("long").as("n_test"),
          sum(when($"label" === $"true_label", 1L).otherwise(0L))
            .cast("long").as("n_correct"))
        .select($"true_label".as("label"), $"n_test", $"n_correct",
          expr("n_correct * 1000000 div n_test").as("acc_ppm"))
    }, Some("""
      WITH tr AS (
        SELECT CAST(label AS BIGINT) AS label,
          generate_subscripts(embedding, 1) - 1 AS dim,
          unnest(embedding) AS comp
        FROM embeddings WHERE vec_id % 2 = 0),
      cent AS (
        SELECT label, dim,
          CAST(sum(CAST(floor(CAST(comp AS DOUBLE) * 1000) AS BIGINT)) AS DOUBLE)
            / CAST(count(*) * 1000 AS DOUBLE) AS c
        FROM tr GROUP BY 1, 2),
      te AS (
        SELECT vec_id, CAST(label AS BIGINT) AS true_label,
          generate_subscripts(embedding, 1) - 1 AS dim,
          CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings WHERE vec_id % 2 = 1),
      dist AS (
        SELECT te.vec_id, te.true_label, cent.label,
          sum(CAST(floor((te.x - cent.c) * (te.x - cent.c) * 1000000000000)
                AS BIGINT)) AS d2
        FROM te JOIN cent ON cent.dim = te.dim
        GROUP BY 1, 2, 3),
      pred AS (
        SELECT vec_id, true_label, label AS pred_label FROM (
          SELECT vec_id, true_label, label,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2 ASC, label ASC) AS rn
          FROM dist)
        WHERE rn = 1)
      SELECT true_label AS label, CAST(count(*) AS BIGINT) AS n_test,
        CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
          AS BIGINT) AS n_correct,
        CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
          * 1000000 // count(*) AS BIGINT) AS acc_ppm
      FROM pred GROUP BY 1""")),

    // cross-split SEMANTIC leakage (q131's embedding-space sibling):
    // after the q84 hash split, find val/test docs whose embedding
    // collides with a training doc in hyperplane-LSH space and report
    // each probe doc's candidate count and max train-side cosine —
    // paraphrase-level contamination that exact fingerprints (q131)
    // can't see. The signature is a FIXED 8-plane single-table bucket
    // (a high-precision screen, planes independent of corpus size, so
    // the oracle is static): row-local codegen'd sign tests, then ONE
    // bucket-keyed equi-join train×probe — neither side broadcast,
    // both corpus-growing, the same banded shape as q115. Exact cosine
    // runs only on in-bucket candidates.
    Q("q138_semantic_leakage", (s, d) => {
      import s.implicits._
      val planes = SimilarityOps.hyperplanes(8, 64, seed = 1337L)
      val h = CorpusOps.hashMix($"vec_id", 1000L)
      val v = t(s, d, "embeddings").select($"vec_id",
        $"embedding".cast("array<double>").as("e"),
        when(h < 980, "train").when(h < 990, "val").otherwise("test")
          .as("split"))
        .withColumn("bucket", SimilarityOps.hyperplaneSignature($"e", planes))
      val train = v.filter($"split" === "train")
        .select($"bucket", $"vec_id".as("tid"), $"e".as("te"))
      v.filter($"split" =!= "train")
        .join(train, Seq("bucket"), "left_outer")
        .withColumn("sim",
          when($"tid".isNotNull, SimilarityOps.dot($"e", $"te")))
        .groupBy($"split", $"vec_id")
        .agg(sum(when($"tid".isNotNull, 1L).otherwise(0L)).as("n_cand"),
          round(max($"sim"), 6).as("max_sim_r"))
    }, Some(s"""
      WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
          CASE WHEN ((((vec_id % 1000003) + 1000003) % 1000003
                      * 2654435761 + 40503) % 1000 + 1000) % 1000 < 980
                 THEN 'train'
               WHEN ((((vec_id % 1000003) + 1000003) % 1000003
                      * 2654435761 + 40503) % 1000 + 1000) % 1000 < 990
                 THEN 'val'
               ELSE 'test' END AS split
        FROM embeddings),
      planes(table_id, plane_idx, pv) AS (VALUES
      ${planeValuesSql(Seq(SimilarityOps.hyperplanes(8, 64, seed = 1337L)))}),
      dots AS (
        SELECT v.vec_id, p.plane_idx,
          list_sum(list_transform(range(1, 65), i -> v.e[i] * p.pv[i])) AS dp
        FROM v CROSS JOIN planes p),
      sig AS (
        SELECT vec_id,
          CAST(sum(CASE WHEN dp > 0 THEN CAST(1 AS BIGINT) << plane_idx
                   ELSE 0 END) AS BIGINT) AS bucket
        FROM dots GROUP BY 1),
      tv AS (SELECT s.bucket, v.vec_id AS tid, v.e AS te
             FROM v JOIN sig s USING (vec_id) WHERE v.split = 'train'),
      pb AS (SELECT v.split, v.vec_id, v.e, s.bucket
             FROM v JOIN sig s USING (vec_id) WHERE v.split <> 'train')
      SELECT pb.split, pb.vec_id,
        CAST(sum(CASE WHEN tv.tid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_cand,
        round(max(CASE WHEN tv.tid IS NOT NULL THEN
          list_sum(list_transform(range(1, 65), i -> pb.e[i] * tv.te[i]))
          END), 6) AS max_sim_r
      FROM pb LEFT JOIN tv ON tv.bucket = pb.bucket
      GROUP BY 1, 2""")),

    // retrieval hard-negative mining: for a fixed batch of anchor docs,
    // the top-5 most-similar docs from a DIFFERENT source — the
    // "looks relevant, isn't from the answer source" negatives a
    // contrastive retriever trains against. The anchor batch is an
    // INPUT (constant size at any corpus scale), so broadcasting it is
    // the k*n scan shape of q37/q61 — the corpus side streams through
    // row-local codegen'd dots. Top-5 per anchor rides the
    // (anchor, hash-bucket) prefilter + bounded final window (q133
    // pattern): the row_number tiebreak (sim DESC, doc_id ASC) is a
    // TOTAL order, so bucketing cannot change the survivors and the
    // engine-local hash never reaches the oracle.
    Q("q141_hard_negatives", (s, d) => {
      import s.implicits._
      val qids = Seq(0L, 3L, 7L, 11L, 19L, 23L, 31L, 42L)
      val src = t(s, d, "documents").select($"doc_id", $"source")
      val emb = t(s, d, "embeddings")
        .select($"vec_id".as("doc_id"),
          $"embedding".cast("array<double>").as("e"))
        .join(src, "doc_id")
      val q = broadcast(emb.filter($"doc_id".isin(qids: _*))
        .select($"doc_id".as("query_id"), $"e".as("qe"),
          $"source".as("qsrc")))
      val scored = emb
        .join(q, $"doc_id" =!= $"query_id" && $"source" =!= $"qsrc")
        .withColumn("sim", SimilarityOps.dot($"qe", $"e"))
      val wB = Window.partitionBy($"query_id", pmod(hash($"doc_id"), lit(64)))
        .orderBy($"sim".desc, $"doc_id".asc)
      val wF = Window.partitionBy($"query_id")
        .orderBy($"sim".desc, $"doc_id".asc)
      scored.withColumn("rb", row_number().over(wB)).filter($"rb" <= 5)
        .withColumn("rank", row_number().over(wF)).filter($"rank" <= 5)
        .select($"query_id", $"rank".cast("long").as("rank"),
          $"doc_id".as("neg_id"), $"source".as("neg_source"),
          round($"sim", 6).as("sim_r"))
    }, Some("""
      WITH emb AS (
        SELECT e.vec_id AS doc_id, CAST(e.embedding AS DOUBLE[]) AS e, d.source
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
      q AS (SELECT doc_id AS query_id, e AS qe, source AS qsrc FROM emb
            WHERE doc_id IN (0, 3, 7, 11, 19, 23, 31, 42)),
      s AS (SELECT q.query_id, emb.doc_id AS neg_id, emb.source AS neg_source,
              list_sum(list_transform(range(1, 65), i -> q.qe[i] * emb.e[i]))
                AS sim
            FROM q, emb
            WHERE emb.doc_id <> q.query_id AND emb.source <> q.qsrc)
      SELECT query_id, CAST(rnk AS BIGINT) AS rank, neg_id, neg_source,
             round(sim, 6) AS sim_r
      FROM (SELECT query_id, neg_id, neg_source, sim,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neg_id ASC) AS rnk
            FROM s)
      WHERE rnk <= 5""")),

    // hybrid-retrieval reciprocal-rank fusion (the RAG hybrid-search
    // shape): for each query doc, fuse a DENSE ranking (embedding
    // cosine, q37's codegen'd dot) with a LEXICAL ranking (q112's BM25
    // over the token index) via RRF — score(d) = sum over lists of
    // 1/(60+rank), in integer micro-units so the fusion is pure integer
    // arithmetic (no cross-engine float division). Scale shape: the
    // query batch is an INPUT (constant at any corpus size) so the
    // dense side is the broadcast k*n scan of q37/q141; the lexical
    // side is q112's vocabulary-keyed joins (df/dl frames grow with the
    // corpus, never broadcast; only the doc-bounded query-term set and
    // the 1-row corpus stats are). Both per-query top-50s ride the
    // (query, hash-bucket) prefilter + bounded final window — the
    // total-order tiebreak (score DESC, doc ASC) makes bucketing
    // invisible to the oracle. The fusion join sees <= 100 rows per
    // query (two top-50 lists), AQE-adjudicated, and the final top-10
    // re-rank windows over <= 100 survivors per query.
    Q("q191_rrf_fusion", (s, d) => {
      import s.implicits._
      val qids = Seq(0L, 5L)
      // dense ranking: cosine to the query embedding (unit-norm -> dot)
      val emb = t(s, d, "embeddings")
        .select($"vec_id".as("doc_id"),
          $"embedding".cast("array<double>").as("e"))
      val qe = broadcast(emb.filter($"doc_id".isin(qids: _*))
        .select($"doc_id".as("q_id"), $"e".as("qv")))
      val dOrd = Seq($"sim".desc, $"doc_id".asc)
      val wDB = Window.partitionBy($"q_id", pmod(hash($"doc_id"), lit(64)))
        .orderBy(dOrd: _*)
      val wDF = Window.partitionBy($"q_id").orderBy(dOrd: _*)
      val dense = emb.join(qe, $"doc_id" =!= $"q_id")
        .withColumn("sim", SimilarityOps.dot($"qv", $"e"))
        .withColumn("rb", row_number().over(wDB)).filter($"rb" <= 50)
        .withColumn("drk", row_number().over(wDF).cast("long"))
        .filter($"drk" <= 50)
        .select($"q_id", $"doc_id", $"drk")
      // lexical ranking: q112's BM25 (same constants), queries = same docs
      // tf feeds four consumers (dl, df/idf, the query-term set, and the
      // scored join). A persist() was A/B-measured SLOWER here (3.8 s vs
      // 2.3 s at sf0.1): tf is corpus-sized (docs x distinct tokens) and
      // the cache write costs more than the three extra scan+agg legs,
      // unlike the registry-sized q168-class frames the round-12 persist
      // pass targeted. Left unpersisted deliberately.
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
      val qt = tf.filter($"doc_id".isin(qids: _*))
        .select($"doc_id".as("q_id"), $"tok").distinct()
      val scored = tf.join(broadcast(qt), "tok")
        .filter($"doc_id" =!= $"q_id")
        .join(idf, "tok").join(dl, "doc_id").join(broadcast(stats))
        .withColumn("term_n",
          floor($"idf_n" * (($"tf" * lit(2.2))
            / ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * ($"dl" / $"avgdl")))))
            .cast("long"))
        .groupBy($"q_id", $"doc_id").agg(sum($"term_n").as("bm25_n"))
      val lOrd = Seq($"bm25_n".desc, $"doc_id".asc)
      val wLB = Window.partitionBy($"q_id", pmod(hash($"doc_id"), lit(64)))
        .orderBy(lOrd: _*)
      val wLF = Window.partitionBy($"q_id").orderBy(lOrd: _*)
      val lex = scored
        .withColumn("rb", row_number().over(wLB)).filter($"rb" <= 50)
        .withColumn("lrk", row_number().over(wLF).cast("long"))
        .filter($"lrk" <= 50)
        .select($"q_id", $"doc_id", $"lrk")
      // RRF fusion: integer micro-unit contributions, absent list -> 0
      val fused = dense.withColumn("dc", expr("1000000 div (60 + drk)"))
        .join(lex.withColumn("lc", expr("1000000 div (60 + lrk)")),
          Seq("q_id", "doc_id"), "full_outer")
        .select($"q_id", $"doc_id",
          coalesce($"drk", lit(0L)).as("dense_rk"),
          coalesce($"lrk", lit(0L)).as("lex_rk"),
          (coalesce($"dc", lit(0L)) + coalesce($"lc", lit(0L)))
            .as("rrf_micro"))
      val wR = Window.partitionBy($"q_id")
        .orderBy($"rrf_micro".desc, $"doc_id".asc)
      fused.withColumn("rk", row_number().over(wR).cast("long"))
        .filter($"rk" <= 10)
    }, Some("""
      WITH emb AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings),
      qe AS (SELECT doc_id AS q_id, e AS qv FROM emb WHERE doc_id IN (0, 5)),
      dense AS (
        SELECT q_id, doc_id, CAST(rnk AS BIGINT) AS drk FROM (
          SELECT qe.q_id, emb.doc_id,
            row_number() OVER (PARTITION BY qe.q_id ORDER BY
              list_sum(list_transform(range(1, 65),
                i -> qe.qv[i] * emb.e[i])) DESC, emb.doc_id ASC) AS rnk
          FROM qe, emb WHERE emb.doc_id <> qe.q_id)
        WHERE rnk <= 50),
      tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
              FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      stats AS (SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM dl),
      idf AS (SELECT tok,
                CAST(floor(ln(1 + (n - df + 0.5) / (df + 0.5)) * 1000000000)
                     AS BIGINT) AS idf_n
              FROM (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
              CROSS JOIN stats),
      qt AS (SELECT DISTINCT doc_id AS q_id, tok FROM tf
             WHERE doc_id IN (0, 5)),
      sc AS (SELECT qt.q_id, tf.doc_id,
               CAST(sum(CAST(floor(idf.idf_n * ((tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / stats.avgdl)))))
                 AS BIGINT)) AS BIGINT) AS bm25_n
             FROM qt
             JOIN tf ON tf.tok = qt.tok AND tf.doc_id <> qt.q_id
             JOIN idf ON idf.tok = tf.tok
             JOIN dl ON dl.doc_id = tf.doc_id
             CROSS JOIN stats
             GROUP BY 1, 2),
      lex AS (
        SELECT q_id, doc_id, CAST(rnk AS BIGINT) AS lrk FROM (
          SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
            ORDER BY bm25_n DESC, doc_id ASC) AS rnk FROM sc)
        WHERE rnk <= 50),
      fused AS (
        SELECT coalesce(dense.q_id, lex.q_id) AS q_id,
          coalesce(dense.doc_id, lex.doc_id) AS doc_id,
          coalesce(dense.drk, 0) AS dense_rk,
          coalesce(lex.lrk, 0) AS lex_rk,
          coalesce(1000000 // (60 + dense.drk), 0)
            + coalesce(1000000 // (60 + lex.lrk), 0) AS rrf_micro
        FROM dense FULL JOIN lex
          ON lex.q_id = dense.q_id AND lex.doc_id = dense.doc_id)
      SELECT q_id, doc_id, CAST(dense_rk AS BIGINT) AS dense_rk,
        CAST(lex_rk AS BIGINT) AS lex_rk,
        CAST(rrf_micro AS BIGINT) AS rrf_micro, CAST(rk AS BIGINT) AS rk
      FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY rrf_micro DESC, doc_id ASC) AS rk FROM fused)
      WHERE rk <= 10""")),

    // embedding energy-compaction audit (matryoshka readiness): for
    // unit-norm embeddings, the squared-norm mass in the first p
    // dimensions IS the cosine^2 between the full vector and its
    // p-truncation — the number that says whether 8/16/32-dim truncated
    // indexes (MRL-style) can serve coarse ANN stages. Per label: mean
    // retained energy (ppm) at p in {8, 16, 32}. Per-row energies are
    // floor-quantized to integer ppm BEFORE the mean so the aggregate
    // is order-independent integer addition; the fold itself
    // (aggregate over slice, left-to-right double adds of per-component
    // squares) is written identically in both engines. Scale shape: ONE
    // row-local pass + one map-side-combined label agg — zero joins,
    // windows, or broadcasts.
    Q("q192_energy_compaction", (s, d) => {
      import s.implicits._
      def en(p: Int) = expr(
        s"""CAST(floor(1000000 * aggregate(slice(embedding, 1, $p),
           |CAST(0 AS DOUBLE),
           |(a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
           |AS BIGINT)""".stripMargin.replaceAll("\n", " "))
      t(s, d, "embeddings")
        .select($"label".cast("long").as("label"),
          en(8).as("e8"), en(16).as("e16"), en(32).as("e32"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n_vecs"),
          expr("sum(e8) div count(1)").as("p8_ppm"),
          expr("sum(e16) div count(1)").as("p16_ppm"),
          expr("sum(e32) div count(1)").as("p32_ppm"))
    }, Some("""
      WITH e AS (SELECT CAST(label AS BIGINT) AS label,
        CAST(floor(1000000 * list_sum(list_transform(embedding[1:8],
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS BIGINT) AS e8,
        CAST(floor(1000000 * list_sum(list_transform(embedding[1:16],
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS BIGINT) AS e16,
        CAST(floor(1000000 * list_sum(list_transform(embedding[1:32],
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS BIGINT) AS e32
        FROM embeddings)
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        CAST(sum(e8) // count(*) AS BIGINT) AS p8_ppm,
        CAST(sum(e16) // count(*) AS BIGINT) AS p16_ppm,
        CAST(sum(e32) // count(*) AS BIGINT) AS p32_ppm
      FROM e GROUP BY 1""")),

    // dimensional-collapse audit (participation ratio of per-dim
    // variance, per label): PR = (sum_d var_d)^2 / sum_d var_d^2 — 64
    // when variance spreads evenly across dims, ~1 when the space has
    // collapsed onto one axis. The embedding-health number a retriever
    // owner watches after finetuning/compression. Exactness: q118's
    // milli quantization, TWO-pass centered variance (a one-pass
    // n*sum(c^2)-(sum c)^2 overflows int64 past ~1e6 vecs/label at
    // milli scale; the centered pass is exact to ~1e12), per-dim
    // variances re-quantized (div 100) BEFORE squaring so the PR
    // numerator stays under 6.5e15 at any label size. Scale shape: two
    // map-side-combined (label, dim) aggs; the mean frame is
    // model-sized (labels x 64) and equi-joined (AQE adjudicates, no
    // hint); the final agg is label-count rows.
    Q("q198_dim_collapse", (s, d) => {
      import s.implicits._
      val ex = t(s, d, "embeddings")
        .select($"label".cast("long").as("label"),
          posexplode($"embedding").as(Seq("i", "comp")))
        .select($"label", $"i".cast("long").as("dim"),
          floor($"comp".cast("double") * 1000).cast("long").as("c"))
      val mu = ex.groupBy($"label", $"dim")
        .agg(count(lit(1)).as("n"), sum($"c").as("sc"))
        .select($"label", $"dim", $"n", expr("sc div n").as("mu"))
      val vd = ex.join(mu, Seq("label", "dim"))
        .groupBy($"label", $"dim")
        .agg(max($"n").as("n"),
          expr("sum((c - mu) * (c - mu)) div max(n)").as("v"))
        .select($"label", $"dim", $"n", expr("v div 100").as("vk"))
      vd.groupBy($"label")
        .agg(max($"n").as("n_vecs"), sum($"vk").as("sum_var_k"),
          max($"vk").as("max_var_k"),
          expr("""CASE WHEN sum(vk * vk) = 0 THEN CAST(0 AS BIGINT)
            ELSE (1000 * sum(vk) * sum(vk)) div sum(vk * vk) END""")
            .as("pr_milli"))
    }, Some("""
      WITH ex AS (
        SELECT CAST(label AS BIGINT) AS label,
          generate_subscripts(embedding, 1) - 1 AS dim,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT)
            AS c
        FROM embeddings),
      mu AS (
        SELECT label, dim, count(*) AS n, sum(c) // count(*) AS mu
        FROM ex GROUP BY 1, 2),
      vd AS (
        SELECT ex.label, ex.dim, max(mu.n) AS n,
          (sum((ex.c - mu.mu) * (ex.c - mu.mu)) // max(mu.n)) // 100 AS vk
        FROM ex JOIN mu ON mu.label = ex.label AND mu.dim = ex.dim
        GROUP BY 1, 2)
      SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
        CAST(sum(vk) AS BIGINT) AS sum_var_k,
        CAST(max(vk) AS BIGINT) AS max_var_k,
        CAST(CASE WHEN sum(vk * vk) = 0 THEN 0
          ELSE (1000 * sum(vk) * sum(vk)) // sum(vk * vk) END AS BIGINT)
          AS pr_milli
      FROM vd GROUP BY 1""")),

    // embedding whitening audit (pairwise covariance + correlation of
    // the first 8 dims): q198's PR says IF variance is concentrated,
    // this says WHERE — strongly correlated dim pairs mean a whitening/
    // rotation step would improve the quantizers (PQ subspaces assume
    // independence). Exactness: q118 milli quantization, two-pass
    // centered products (mean frame is 8 rows, equi-joined unhinted);
    // corr = 1000*cov/sqrt(vi*vj) evaluated on integer-fed doubles
    // (sqrt and / are correctly-rounded IEEE — identical both engines),
    // floor-quantized; zero-variance guarded to 0. Scale shape: the
    // (vec, dim<8) explode is a constant 8x fan-out; the pair self-join
    // is vec-keyed with a constant <= 36 pairs per vec; two map-side-
    // combined (i, j) aggs; everything after is the 36-row pair frame.
    Q("q203_embedding_covariance", (s, d) => {
      import s.implicits._
      val ex = t(s, d, "embeddings")
        .select($"vec_id", posexplode($"embedding").as(Seq("i", "comp")))
        .filter($"i" < 8)
        .select($"vec_id", $"i".cast("long").as("dim"),
          floor($"comp".cast("double") * 1000).cast("long").as("c"))
      val mu = ex.groupBy($"dim")
        .agg(count(lit(1)).as("n"), sum($"c").as("sc"))
        .select($"dim", $"n", expr("sc div n").as("mu"))
      val cex = ex.join(mu, "dim")
        .select($"vec_id", $"dim", ($"c" - $"mu").as("cc"), $"n")
      val aSide = cex.select($"vec_id", $"dim".as("i"), $"cc".as("ca"),
        $"n")
      val bSide = cex.select($"vec_id", $"dim".as("j"), $"cc".as("cb"))
      val cov = aSide.join(bSide, "vec_id").filter($"i" <= $"j")
        .groupBy($"i", $"j")
        .agg(max($"n").as("n"),
          // covariance sums go negative, but integer division is still
          // engine-portable: Spark `div` and DuckDB `//` BOTH truncate
          // toward zero on integers (measured -7//2 = -3 in DuckDB) —
          // same semantics as the plain `sc div n` in `mu` above
          expr("sum(ca * cb) div max(n)").as("cov_k"))
      val diag = cov.filter($"i" === $"j")
        .select($"i".as("dd"), $"cov_k".as("var_k"))
      cov.filter($"i" < $"j")
        .join(diag.select($"dd".as("i"), $"var_k".as("vi")), "i")
        .join(diag.select($"dd".as("j"), $"var_k".as("vj")), "j")
        .select($"i", $"j", $"cov_k",
          expr("""CASE WHEN vi <= 0 OR vj <= 0 THEN CAST(0 AS BIGINT)
            ELSE cast(floor(1000 * cov_k /
              sqrt(cast(vi as double) * cast(vj as double))) as bigint)
            END""").as("corr_milli"))
    }, Some("""
      WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT)
            AS c
        FROM embeddings),
      e8 AS (SELECT * FROM ex WHERE dim < 8),
      mu AS (SELECT dim, count(*) AS n, sum(c) // count(*) AS mu
             FROM e8 GROUP BY 1),
      cex AS (SELECT e8.vec_id, e8.dim, e8.c - mu.mu AS cc, mu.n
              FROM e8 JOIN mu USING (dim)),
      cov AS (
        SELECT a.dim AS i, b.dim AS j, max(a.n) AS n,
          sum(a.cc * b.cc) // max(a.n) AS cov_k
        FROM cex a JOIN cex b ON b.vec_id = a.vec_id AND b.dim >= a.dim
        GROUP BY 1, 2),
      diag AS (SELECT i AS dd, cov_k AS var_k FROM cov WHERE i = j)
      SELECT cov.i, cov.j, CAST(cov.cov_k AS BIGINT) AS cov_k,
        CAST(CASE WHEN di.var_k <= 0 OR dj.var_k <= 0 THEN 0
          ELSE floor(1000 * cov.cov_k /
            sqrt(CAST(di.var_k AS DOUBLE) * CAST(dj.var_k AS DOUBLE)))
          END AS BIGINT) AS corr_milli
      FROM cov JOIN diag di ON di.dd = cov.i
      JOIN diag dj ON dj.dd = cov.j
      WHERE cov.i < cov.j""")),

    // kNN label-consistency audit (the confident-learning-style
    // label-noise estimate): for a fixed probe batch, what fraction of
    // each probe's 5 exact nearest neighbors carries the probe's own
    // label — per-label mean agreement ppm. A label whose members'
    // neighborhoods disagree is either noisy or the embedding doesn't
    // separate it; both mean "don't trust this label for training".
    // Scale shape: the probe batch is an INPUT (vec_id < 100, constant
    // at any corpus size) — the q37/q141 broadcast k*n scan; top-5
    // rides the (probe, hash-bucket) prefilter + bounded final window;
    // label joins are probe/neighbor-keyed; the rollup is label-sized.
    Q("q212_knn_label_noise", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val labels = emb.select($"vec_id", $"label".cast("long").as("lab"))
      val knn = SimilarityOps.bruteForceTopK(
        emb, emb.filter($"vec_id" < 100), "vec_id", "embedding", k = 5)
      knn
        .join(labels.select($"vec_id".as("query_id"), $"lab".as("ql")),
          "query_id")
        .join(labels.select($"vec_id".as("neighbor_id"), $"lab".as("nl")),
          "neighbor_id")
        .groupBy($"query_id", $"ql")
        .agg(sum(when($"ql" === $"nl", 1L).otherwise(0L)).as("agree"))
        .groupBy($"ql".as("label"))
        .agg(count(lit(1)).as("n_probes"),
          expr("(sum(agree) * 1000000) div (count(1) * 5)")
            .as("mean_agree_ppm"))
    }, Some("""
      WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe,
                   CAST(label AS BIGINT) AS ql
                 FROM embeddings WHERE vec_id < 100),
      c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce,
              CAST(label AS BIGINT) AS nl
            FROM embeddings),
      s AS (SELECT query_id, ql, neighbor_id, nl,
              list_sum(list_transform(range(1, 65), i -> qe[i] * ce[i]))
                AS sim
            FROM q, c WHERE neighbor_id != query_id),
      k AS (SELECT query_id, ql, nl FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id ASC) AS rnk FROM s)
            WHERE rnk <= 5),
      a AS (SELECT query_id, ql,
              sum(CASE WHEN ql = nl THEN 1 ELSE 0 END) AS agree
            FROM k GROUP BY 1, 2)
      SELECT ql AS label, CAST(count(*) AS BIGINT) AS n_probes,
        CAST((sum(agree) * 1000000) // (count(*) * 5) AS BIGINT)
          AS mean_agree_ppm
      FROM a GROUP BY 1""")),

    // ANN recall report (round-9 VERDICT stretch item, promoting the
    // ProfileAnn tool's sweep into the hash gate): recall@5 of the
    // production LSH top-k path against brute-force ground truth, per
    // probe — the quality number that certifies the ANN family's
    // speed/recall trade-off at the shipped sizing. Deterministic:
    // seeded hyperplanes + the fixed probe set (vec_id < 50) make both
    // rankings exact replays, so recall itself is hash-checkable in
    // DuckDB — no tolerance band needed. Scale shape: the truth side
    // is a constant-probe broadcast k*n scan (q37 class); the ANN
    // side is lshTopK with the probe filter PUSHED THROUGH the
    // rank window (query_id is the window partition key) into the
    // query-side bucket scan, so only 50 queries' buckets join the
    // full index; the recall join is probe-keyed (<=250 rows/side).
    Q("q221_ann_recall", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val n = embedN(s, d)
      val cfg = SimilarityOps.lshSizing(n)
      val tables = SimilarityOps.lshTables(cfg.planes, cfg.tables, dim = 64)
      val ann = SimilarityOps
        .lshTopK(emb, "vec_id", "embedding", tables, k = 5,
          probes = cfg.probes)
        .filter($"query_id" < 50)
        .select($"query_id", $"neighbor_id")
      val bf = SimilarityOps
        .bruteForceTopK(emb, emb.filter($"vec_id" < 50), "vec_id",
          "embedding", k = 5)
        .select($"query_id", $"neighbor_id")
      bf.join(ann.withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy($"query_id")
        .agg(sum(coalesce($"hit", lit(0L))).as("n_hits"))
        .select($"query_id", $"n_hits",
          expr("(n_hits * 1000000) div 5").as("recall_ppm"))
    }, Some(annRecallOracleSql(500)),
      oracleDyn = Some((s, d) => annRecallOracleSql(embedN(s, d)))),

    // Embedding hubness audit (in-degree distribution of the k-NN
    // graph): in high dimensions a few "hub" vectors appear in
    // EVERYONE's top-k while antihubs appear in nobody's — a known
    // failure mode that silently skews kNN dedup (q74), label-noise
    // screens (q212), and retrieval fusion (q191). The histogram of
    // "how many top-5 lists each vector appears in" (0 = antihub)
    // makes the skew a queryable number. The graph is the PRODUCTION
    // LSH path (q221's seeded tables with multi-probe, every vector a
    // query), so the audit measures the index actually shipped, not an
    // idealized brute-force graph. Scale shape: lshTopK is bucketed
    // (candidates ≈ n·avgBucket·L, never n²); the in-degree agg is
    // map-side combined on the neighbor id; the histogram grid is
    // bounded by max in-degree ≤ 5·n (concentrated near 5·L). The
    // oracle replays the identical planes/probes in SQL (q221 class),
    // sized by the live corpus count via oracleDyn.
    Q("q253_hubness", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val n = embedN(s, d)
      val cfg = SimilarityOps.lshSizing(n)
      val tables = SimilarityOps.lshTables(cfg.planes, cfg.tables, dim = 64)
      val ann = SimilarityOps
        .lshTopK(emb, "vec_id", "embedding", tables, k = 5,
          probes = cfg.probes)
      val ind = ann.groupBy($"neighbor_id").agg(count(lit(1)).as("ind"))
      emb.select($"vec_id")
        .join(ind.select($"neighbor_id".as("vec_id"), $"ind"),
          Seq("vec_id"), "left_outer")
        .select(coalesce($"ind", lit(0L)).as("indeg"))
        .groupBy($"indeg").agg(count(lit(1)).as("n_vecs"))
    }, Some(hubnessOracleSql(500)),
      oracleDyn = Some((s, d) => hubnessOracleSql(embedN(s, d)))),

    // Fisher discriminant ratio per label (between-class scatter of
    // the label centroid vs within-class scatter, embedding space):
    // the one-number answer to "are these labels actually separable
    // in this embedding?" — ratio ≈ 0 means training a classifier on
    // these vectors is hopeless, and a label whose ratio collapses
    // after an embedding upgrade was silently broken by it. Completes
    // the embedding-health family: q135 flags outlier VECTORS, q157
    // drift across SPLITS, q198/q203 collapse of the SPACE; this
    // scores the LABELS. Scale shape: ONE (label, dim) map-side
    // combined agg (model-sized: labels × 64 at any corpus size);
    // global per-dim means from a 64-row rollup broadcast back; the
    // scatter identities Σc²−(Σc)²/n keep it one pass. Exactness:
    // milli-quantized components (q118 convention), all-integer
    // scatter sums, div truncation identical in both engines.
    Q("q261_fisher_ratio", (s, d) => {
      import s.implicits._
      val comp = t(s, d, "embeddings")
        .select($"label".cast("long").as("label"),
          posexplode($"embedding".cast("array<double>")).as(Seq("i", "c")))
        .select($"label", $"i", floor($"c" * 1000).cast("long").as("cm"))
      val ld = comp.groupBy($"label", $"i")
        .agg(count(lit(1)).as("n"), sum($"cm").as("s"),
          sum($"cm" * $"cm").as("q"))
      val gd = ld.groupBy($"i").agg(sum($"s").as("sg"), sum($"n").as("ng"))
      ld.join(broadcast(gd), "i")
        .withColumn("w", expr("q - (s * s) div n"))
        .withColumn("dm", expr("(s div n) - (sg div ng)"))
        .groupBy($"label")
        .agg(max($"n").as("n_vecs"), sum($"w").as("within_milli2"),
          sum(expr("n * dm * dm")).as("between_milli2"))
        .select($"label", $"n_vecs", $"within_milli2", $"between_milli2",
          expr("(between_milli2 * 1000000) div greatest(within_milli2, 1)")
            .as("fisher_ppm"))
    }, Some("""
      WITH comp AS (
        SELECT CAST(label AS BIGINT) AS label,
          generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS i,
          CAST(floor(CAST(unnest(CAST(embedding AS DOUBLE[])) AS DOUBLE)
            * 1000) AS BIGINT) AS cm
        FROM embeddings),
      ld AS (
        SELECT label, i, count(*) AS n, sum(cm) AS s, sum(cm * cm) AS q
        FROM comp GROUP BY 1, 2),
      gd AS (SELECT i, sum(s) AS sg, sum(n) AS ng FROM ld GROUP BY 1),
      j AS (
        SELECT ld.label, ld.n, q - (s * s) // n AS w,
          (s // n) - (gd.sg // gd.ng) AS dm
        FROM ld JOIN gd USING (i))
      SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
        CAST(sum(w) AS BIGINT) AS within_milli2,
        CAST(sum(n * dm * dm) AS BIGINT) AS between_milli2,
        CAST((sum(n * dm * dm) * 1000000) // greatest(sum(w), 1)
          AS BIGINT) AS fisher_ppm
      FROM j GROUP BY 1""")),

    // Johnson–Lindenstrauss projection distortion audit: project the
    // 64-dim embeddings to K = 16 dims through the SEEDED Gaussian
    // hyperplane family (the same deterministic matrix machinery the
    // LSH stack signs with — here kept as real-valued projections) and
    // measure the squared-distance distortion ratio
    // (‖Pa−Pb‖²/K) / ‖a−b‖² over the deterministic consecutive-id
    // pair sample. The histogram answers "can downstream switch to a
    // 4× cheaper 16-dim index and keep distances within ±x%?" —
    // the dimensionality-REDUCTION counterpart to q192's truncation
    // (energy compaction keeps prefix coords; JL mixes all of them —
    // far tighter distortion at the same K for non-axis-aligned
    // mass). Exactness: all doubles flow through FIXED-order row-
    // local expressions (projections per VECTOR, explicit 16-term
    // sums, q37/q192 IEEE-tree convention), floor-ppm quantized
    // BEFORE the histogram; planes interpolated into the oracle as
    // %.17e literals (exact round-trip). Scale shape: per-vector
    // projections are 17 codegen'd dot products in ONE pass; the
    // pair sample is an id-keyed equi-join (never all-pairs); the
    // rollup rides the bounded ratio-bucket domain.
    Q("q286_jl_distortion", (s, d) => {
      import s.implicits._
      val planes = SimilarityOps.hyperplanes(16, 64, seed = 7L)
      def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        call_function("dot_product", a, b)
      val projCols = planes.zipWithIndex.map { case (pl, k) =>
        dot($"e", array(pl.map(lit(_)).toIndexedSeq: _*)).as(s"p$k")
      }
      val v = t(s, d, "embeddings")
        .select($"vec_id", $"embedding".cast("array<double>").as("e"))
        .select(Seq($"vec_id", $"e", dot($"e", $"e").as("nn")) ++
          projCols: _*)
        .persist()
      val a = v.toDF(v.columns.map(c => s"a_$c").toIndexedSeq: _*)
      val b = v.toDF(v.columns.map(c => s"b_$c").toIndexedSeq: _*)
      val dy2 = (0 until 16).map(k =>
        s"(a_p$k - b_p$k) * (a_p$k - b_p$k)").mkString(" + ")
      a.join(b, $"a_vec_id" + 1 === $"b_vec_id")
        .withColumn("sab", dot($"a_e", $"b_e"))
        .withColumn("dx2", expr("a_nn + b_nn - 2 * sab"))
        .withColumn("dy2", expr(dy2))
        .filter($"dx2" > 0)
        .withColumn("ratio_ppm",
          expr("cast(floor(dy2 * 1000000 / (16 * dx2)) as long)"))
        .groupBy(expr("ratio_ppm div 100000").as("ratio_bucket"))
        .agg(count(lit(1)).as("n_pairs"), min($"ratio_ppm").as("min_ppm"),
          max($"ratio_ppm").as("max_ppm"))
    }, Some(s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings),
      planes(k, pv) AS (VALUES
        ${SimilarityOps.hyperplanes(16, 64, seed = 7L).zipWithIndex
          .map { case (pl, k) =>
            s"($k, CAST([${pl.map(x => f"$x%.17e").mkString(", ")}] AS DOUBLE[]))"
          }.mkString(",\n        ")}),
      proj AS (
        SELECT v.vec_id, p.k,
          list_sum(list_transform(range(1, 65), i -> v.e[i] * p.pv[i]))
            AS pv
        FROM v CROSS JOIN planes p),
      pw AS (
        SELECT vec_id,
          ${(0 until 16).map(k =>
            s"max(CASE WHEN k = $k THEN pv END) AS p$k").mkString(",\n          ")}
        FROM proj GROUP BY 1),
      nn AS (
        SELECT vec_id,
          list_sum(list_transform(range(1, 65), i -> e[i] * e[i])) AS nn
        FROM v),
      pr AS (
        SELECT a.vec_id,
          an.nn + bn.nn - 2 * list_sum(list_transform(range(1, 65),
            i -> a.e[i] * b.e[i])) AS dx2,
          ${(0 until 16).map(k =>
            s"(pa.p$k - pb.p$k) * (pa.p$k - pb.p$k)").mkString(" + ")}
            AS dy2
        FROM v a JOIN v b ON a.vec_id + 1 = b.vec_id
        JOIN nn an ON an.vec_id = a.vec_id
        JOIN nn bn ON bn.vec_id = b.vec_id
        JOIN pw pa ON pa.vec_id = a.vec_id
        JOIN pw pb ON pb.vec_id = b.vec_id),
      r AS (
        SELECT CAST(floor(dy2 * 1000000 / (16 * dx2)) AS BIGINT)
          AS ratio_ppm
        FROM pr WHERE dx2 > 0)
      SELECT ratio_ppm // 100000 AS ratio_bucket,
        count(*) AS n_pairs,
        CAST(min(ratio_ppm) AS BIGINT) AS min_ppm,
        CAST(max(ratio_ppm) AS BIGINT) AS max_ppm
      FROM r GROUP BY 1""")),

    // Top-eigenvector power iteration on the embedding covariance
    // (3 fixed matrix-vector rounds on q203's 8-dim covariance block,
    // per-round max-normalization, Rayleigh-quotient eigenvalue) —
    // the SPECTRAL-direction readout the scalar summaries can't give:
    // q198's participation ratio says HOW MANY directions carry
    // variance, q192/q286 score FIXED bases (prefix, random); this
    // finds the data's own dominant axis and its per-dim loadings —
    // the "one component explains the space, index along it" signal.
    // Exactness: the covariance is q203's integer frame; each round
    // normalizes v to ±1024 by integer division against max|u| (a
    // scalar — no ordering dependence); the Rayleigh quotient is one
    // integer division of two exact int64 bilinear forms (headroom:
    // |u| <= 8·|cov|·1024 ~ 3e10, v·u <= 8·1024·3e10 ~ 2.7e14).
    // Scale shape: ONE corpus pass builds the (i, j) covariance
    // (vec-keyed <= 64-pair fan-out, two map-side-combined aggs) —
    // the only corpus-scale stage; the 3 matrix-vector rounds then
    // run on the driver below the CorpusOps.boundedRows gate (the
    // q193-family two-path design: ~10 jobs on a 64-cell matrix were
    // pure scheduler overhead), with the matrix-sized distributed
    // rounds unchanged above the cap / in the degenerate zero-vector
    // corner (where the engines' div-by-zero null must be preserved).
    Q("q295_power_iteration", (s, d) => {
      import s.implicits._
      val ex = t(s, d, "embeddings")
        .select($"vec_id", posexplode($"embedding").as(Seq("i", "comp")))
        .filter($"i" < 8)
        .select($"vec_id", $"i".cast("long").as("dim"),
          floor($"comp".cast("double") * 1000).cast("long").as("c"))
      val mu = ex.groupBy($"dim")
        .agg(count(lit(1)).as("n"), sum($"c").as("sc"))
        .select($"dim", $"n", expr("sc div n").as("mu"))
      val cex = ex.join(mu, "dim")
        .select($"vec_id", $"dim", ($"c" - $"mu").as("cc"), $"n")
      val m = cex.select($"vec_id", $"dim".as("i"), $"cc".as("ca"), $"n")
        .join(cex.select($"vec_id", $"dim".as("j"), $"cc".as("cb")),
          "vec_id")
        .groupBy($"i", $"j")
        .agg(expr("sum(ca * cb) div max(n)").as("m"))
      val localOut: Option[org.apache.spark.sql.DataFrame] =
        CorpusOps.boundedRows(m).flatMap { rows =>
          val mm = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
            .toMap
          val is = mm.keySet.map(_._1).toSeq.sorted
          // mirror the distributed mul's INNER-join semantics: a dim i
          // with no surviving (i, j, vj) contribution is DROPPED, not
          // emitted as 0 — on a structurally sparse matrix the two
          // paths' row sets must agree (round-11 ADVICE)
          def mul(v: Map[Long, Long]): Map[Long, Long] =
            is.flatMap { i =>
              val c = mm.collect {
                case ((`i`, j), mij) if v.contains(j) => mij * v(j)
              }
              if (c.isEmpty) None else Some(i -> c.sum)
            }.toMap
          def norm(u: Map[Long, Long]): Map[Long, Long] =
            if (u.isEmpty) u else {
              val mx = u.values.map(x => math.max(x, -x)).max
              u.view.mapValues(x => if (mx == 0) 0L else (x * 1024) / mx)
                .toMap
            }
          val v0 = (0L to 7L).map(i => i -> 1024L).toMap
          val v3 = norm(mul(norm(mul(norm(mul(v0))))))
          val u4 = mul(v3)
          // Rayleigh quotient over the v3 ⋈ u4 join (distributed `ray`
          // aggregates the joined frame); the loading total is over ALL
          // of v3 (distributed `load`) — two different denominators
          val joined = v3.keySet & u4.keySet
          val vu = joined.toSeq.map(i => v3(i) * u4(i)).sum
          val vvJ = joined.toSeq.map(i => v3(i) * v3(i)).sum
          val tot = v3.values.map(v => v * v).sum
          if (vvJ == 0 || tot == 0) None // div-by-zero corner: fall back
          else Some(v3.keys.toSeq.sorted
            .map(i => (i, v3(i), (v3(i) * v3(i) * 1000000L) / tot, vu / vvJ))
            .toDF("dim", "v_q10", "load_ppm", "eig_m"))
        }
      localOut.getOrElse {
        // persisted by boundedRows on its None path, but this arm is ALSO
        // reachable when boundedRows returned Some and the driver math hit
        // the div-by-zero corner (localOut None) — in that route boundedRows
        // already RELEASED the frame, so re-pin it (no-op when still cached)
        val mp = if (m.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
          m.persist() else m
        val v0 = (0L to 7L).map(i => (i, 1024L)).toDF("dim", "v")
        def mul(v: org.apache.spark.sql.DataFrame) =
          mp.join(v.select($"dim".as("jj"), $"v".as("vj")), $"j" === $"jj")
            .groupBy($"i").agg(sum($"m" * $"vj").as("u"))
            .select($"i".as("dim"), $"u")
        def norm(u: org.apache.spark.sql.DataFrame) = {
          val mx = u.agg(max(greatest($"u", -$"u")).as("mx"))
          u.crossJoin(broadcast(mx))
            .select($"dim", expr("""CASE WHEN mx = 0 THEN CAST(0 AS BIGINT)
              ELSE (u * 1024) div mx END""").as("v"))
        }
        val v3 = norm(mul(norm(mul(norm(mul(v0)))))).persist()
        val u4 = mul(v3)
        val ray = v3.join(u4, "dim")
          .agg(sum($"v" * $"u").as("vu"), sum($"v" * $"v").as("vv"))
          .select(expr("vu div vv").as("eig_m"))
        val load = v3.agg(sum($"v" * $"v").as("tot"))
        v3.crossJoin(broadcast(ray)).crossJoin(broadcast(load))
          .select($"dim", $"v".as("v_q10"),
            expr("(v * v * 1000000) div tot").as("load_ppm"), $"eig_m")
      }
    }, Some("""
      WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT)
            AS c
        FROM embeddings),
      e8 AS (SELECT * FROM ex WHERE dim < 8),
      mu AS (SELECT dim, count(*) AS n, sum(c) // count(*) AS mu
             FROM e8 GROUP BY 1),
      cex AS (SELECT e8.vec_id, e8.dim, e8.c - mu.mu AS cc, mu.n
              FROM e8 JOIN mu USING (dim)),
      m AS (
        SELECT a.dim AS i, b.dim AS j, sum(a.cc * b.cc) // max(a.n) AS m
        FROM cex a JOIN cex b ON b.vec_id = a.vec_id
        GROUP BY 1, 2),
      v0 AS (SELECT CAST(d AS BIGINT) AS dim, CAST(1024 AS BIGINT) AS v
             FROM range(0, 8) t(d)),
      u1 AS (SELECT m.i AS dim, sum(m.m * v0.v) AS u
             FROM m JOIN v0 ON v0.dim = m.j GROUP BY 1),
      x1 AS (SELECT max(greatest(u, -u)) AS mx FROM u1),
      v1 AS (SELECT dim, CASE WHEN mx = 0 THEN 0
               ELSE (u * 1024) // mx END AS v
             FROM u1 CROSS JOIN x1),
      u2 AS (SELECT m.i AS dim, sum(m.m * v1.v) AS u
             FROM m JOIN v1 ON v1.dim = m.j GROUP BY 1),
      x2 AS (SELECT max(greatest(u, -u)) AS mx FROM u2),
      v2 AS (SELECT dim, CASE WHEN mx = 0 THEN 0
               ELSE (u * 1024) // mx END AS v
             FROM u2 CROSS JOIN x2),
      u3 AS (SELECT m.i AS dim, sum(m.m * v2.v) AS u
             FROM m JOIN v2 ON v2.dim = m.j GROUP BY 1),
      x3 AS (SELECT max(greatest(u, -u)) AS mx FROM u3),
      v3 AS (SELECT dim, CASE WHEN mx = 0 THEN 0
               ELSE (u * 1024) // mx END AS v
             FROM u3 CROSS JOIN x3),
      u4 AS (SELECT m.i AS dim, sum(m.m * v3.v) AS u
             FROM m JOIN v3 ON v3.dim = m.j GROUP BY 1),
      ray AS (SELECT sum(v3.v * u4.u) // sum(v3.v * v3.v) AS eig_m
              FROM v3 JOIN u4 USING (dim)),
      ld AS (SELECT sum(v * v) AS tot FROM v3)
      SELECT v3.dim, CAST(v3.v AS BIGINT) AS v_q10,
        CAST((v3.v * v3.v * 1000000) // ld.tot AS BIGINT) AS load_ppm,
        CAST(ray.eig_m AS BIGINT) AS eig_m
      FROM v3 CROSS JOIN ray CROSS JOIN ld""")),

    // Greedy k-center seeding (Gonzalez farthest-point traversal, 4
    // rounds from vec 0) with the coverage-radius curve — the
    // 2-approximation COVERAGE guarantee none of the clustering family
    // gives: Lloyd (q118/q123) minimizes the MEAN distance and can
    // strand outliers arbitrarily far; the k-center radius says "every
    // vector is within r of a seed", the number an index-cell or
    // cache-placement design actually needs, and the radius-vs-k curve
    // is the diminishing-returns readout for choosing k. Exactness:
    // dots are the fixed-order dot_product kernel floor-ppm quantized
    // BEFORE any min/max (q37/q286 IEEE convention), so every
    // comparison — including the (simmax asc, vec_id asc) argmin total
    // order — is integer. Scale shape: each round is ONE corpus pass
    // against the <=4-row center broadcast (k·n, q37 shape) + a k=1
    // TakeOrderedAndProject; per-round sim frames persisted (each
    // feeds the radius agg AND the argmin — q193's 2-consumer rule);
    // round count fixed, so total cost is 4 linear passes at any
    // corpus size.
    Q("q300_kcenter_seeds", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
        .select($"vec_id", $"embedding".cast("array<double>").as("e"))
        .persist()
      val dq = expr(
        "cast(floor(dot_product(e, cemb) * 1000000) as bigint)")
      var centers = emb.filter($"vec_id" === 0)
        .select($"vec_id".as("cid"), $"e".as("cemb"))
      var lastAdded = centers.select($"cid")
      var out: Option[org.apache.spark.sql.DataFrame] = None
      for (k <- 1 to 4) {
        val sims = emb.crossJoin(broadcast(centers))
          .select($"vec_id", dq.as("dqv"))
          .groupBy($"vec_id").agg(max($"dqv").as("simmax"))
          .persist()
        val rad = sims.agg((lit(1000000L) - min($"simmax"))
          .as("radius_ppm"))
        val row = lastAdded.crossJoin(broadcast(rad))
          .select(lit(k.toLong).as("k"), $"cid".as("center_id"),
            $"radius_ppm")
        out = Some(out.map(_.unionAll(row)).getOrElse(row))
        if (k < 4) {
          val next = sims.orderBy($"simmax".asc, $"vec_id".asc).limit(1)
            .join(emb, "vec_id")
            .select($"vec_id".as("cid"), $"e".as("cemb")).persist()
          lastAdded = next.select($"cid")
          centers = centers.unionAll(next)
        }
      }
      out.get
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
                 FROM embeddings),
      c1 AS (SELECT vec_id AS cid, ev AS ce FROM e WHERE vec_id = 0),
      m1 AS (SELECT x.vec_id,
               max(CAST(floor(list_sum(list_transform(range(1, 65),
                 i -> x.ev[i] * c.ce[i])) * 1000000) AS BIGINT)) AS simmax
             FROM e x CROSS JOIN c1 c GROUP BY 1),
      r1 AS (SELECT 1000000 - min(simmax) AS radius FROM m1),
      n1 AS (SELECT vec_id FROM m1 ORDER BY simmax ASC, vec_id ASC
             LIMIT 1),
      cf2 AS (SELECT cid, ce FROM c1
              UNION ALL SELECT e.vec_id, e.ev FROM e JOIN n1 USING (vec_id)),
      m2 AS (SELECT x.vec_id,
               max(CAST(floor(list_sum(list_transform(range(1, 65),
                 i -> x.ev[i] * c.ce[i])) * 1000000) AS BIGINT)) AS simmax
             FROM e x CROSS JOIN cf2 c GROUP BY 1),
      r2 AS (SELECT 1000000 - min(simmax) AS radius FROM m2),
      n2 AS (SELECT vec_id FROM m2 ORDER BY simmax ASC, vec_id ASC
             LIMIT 1),
      cf3 AS (SELECT cid, ce FROM cf2
              UNION ALL SELECT e.vec_id, e.ev FROM e JOIN n2 USING (vec_id)),
      m3 AS (SELECT x.vec_id,
               max(CAST(floor(list_sum(list_transform(range(1, 65),
                 i -> x.ev[i] * c.ce[i])) * 1000000) AS BIGINT)) AS simmax
             FROM e x CROSS JOIN cf3 c GROUP BY 1),
      r3 AS (SELECT 1000000 - min(simmax) AS radius FROM m3),
      n3 AS (SELECT vec_id FROM m3 ORDER BY simmax ASC, vec_id ASC
             LIMIT 1),
      cf4 AS (SELECT cid, ce FROM cf3
              UNION ALL SELECT e.vec_id, e.ev FROM e JOIN n3 USING (vec_id)),
      m4 AS (SELECT x.vec_id,
               max(CAST(floor(list_sum(list_transform(range(1, 65),
                 i -> x.ev[i] * c.ce[i])) * 1000000) AS BIGINT)) AS simmax
             FROM e x CROSS JOIN cf4 c GROUP BY 1),
      r4 AS (SELECT 1000000 - min(simmax) AS radius FROM m4)
      SELECT CAST(1 AS BIGINT) AS k,
        (SELECT cid FROM c1) AS center_id,
        CAST((SELECT radius FROM r1) AS BIGINT) AS radius_ppm
      UNION ALL SELECT 2, (SELECT vec_id FROM n1),
        CAST((SELECT radius FROM r2) AS BIGINT)
      UNION ALL SELECT 3, (SELECT vec_id FROM n2),
        CAST((SELECT radius FROM r3) AS BIGINT)
      UNION ALL SELECT 4, (SELECT vec_id FROM n3),
        CAST((SELECT radius FROM r4) AS BIGINT)""")),

    // Dimension-truncation rank fidelity (Kendall tau between the
    // full-64-dim cosine ranking and the prefix-32-dim ranking of each
    // probe's top-20 neighbor set) — the RANK-level answer to the
    // question q192's energy share only answers in L2 terms: energy
    // says "32 dims keep X% of variance", tau says whether the ORDER
    // a retriever actually returns survives the truncation (the
    // decision input for halving index cost). Exactness: both sims
    // floor-ppm quantized fixed-order dots (q37/q286 IEEE convention);
    // ranks are row_number on (sim desc, id asc) TOTAL orders, so the
    // 190 pair comparisons per probe are pure integer. Scale shape:
    // probes are a constant-3 broadcast (k·n scan, q37 shape); the
    // top-20 rides the (probe, hash-bucket) prefilter + bounded final
    // window (q141 pattern); the pair join is within-probe over 20
    // rows (≤190 pairs/probe, constant).
    Q("q306_truncation_tau", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
        .select($"vec_id", $"embedding".cast("array<double>").as("e"))
      val probes = broadcast(emb.filter($"vec_id" < 3)
        .select($"vec_id".as("query_id"), $"e".as("qe")))
      val scored = emb.join(probes, $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          expr("cast(floor(dot_product(qe, e) * 1000000) as bigint)")
            .as("s64"),
          expr("""cast(floor(dot_product(slice(qe, 1, 32), slice(e, 1, 32))
            * 1000000) as bigint)""").as("s32"))
      val wB = Window.partitionBy($"query_id", pmod(hash($"vec_id"), lit(64)))
        .orderBy($"s64".desc, $"vec_id".asc)
      val wF = Window.partitionBy($"query_id")
        .orderBy($"s64".desc, $"vec_id".asc)
      val w32 = Window.partitionBy($"query_id")
        .orderBy($"s32".desc, $"vec_id".asc)
      val top = scored
        .withColumn("rb", row_number().over(wB)).filter($"rb" <= 20)
        .withColumn("r64", row_number().over(wF)).filter($"r64" <= 20)
        .withColumn("r32", row_number().over(w32))
        .select($"query_id", $"vec_id", $"r64", $"r32")
      val l = top.select($"query_id", $"r64".as("a64"), $"r32".as("a32"),
        $"vec_id".as("ia"))
      val r = top.select($"query_id", $"r64".as("b64"), $"r32".as("b32"),
        $"vec_id".as("ib"))
      l.join(r, "query_id").filter($"ia" < $"ib")
        .select($"query_id",
          when(($"a64" - $"b64") * ($"a32" - $"b32") > 0, 1L)
            .otherwise(0L).as("conc"))
        .groupBy($"query_id")
        .agg(count(lit(1)).as("n_pairs"), sum($"conc").as("concordant"))
        .select($"query_id", $"n_pairs", $"concordant",
          ($"n_pairs" - $"concordant").as("discordant"),
          expr("((2 * concordant - n_pairs) * 1000) div n_pairs")
            .as("tau_milli"))
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
                 FROM embeddings),
      q AS (SELECT vec_id AS query_id, ev AS qe FROM e WHERE vec_id < 3),
      s AS (
        SELECT q.query_id, e.vec_id,
          CAST(floor(list_sum(list_transform(range(1, 65),
            i -> q.qe[i] * e.ev[i])) * 1000000) AS BIGINT) AS s64,
          CAST(floor(list_sum(list_transform(range(1, 33),
            i -> q.qe[i] * e.ev[i])) * 1000000) AS BIGINT) AS s32
        FROM q, e WHERE e.vec_id <> q.query_id),
      top AS (
        SELECT query_id, vec_id, s32,
          row_number() OVER (PARTITION BY query_id
            ORDER BY s64 DESC, vec_id ASC) AS r64
        FROM s QUALIFY r64 <= 20),
      rr AS (
        SELECT query_id, vec_id, r64,
          row_number() OVER (PARTITION BY query_id
            ORDER BY s32 DESC, vec_id ASC) AS r32
        FROM top),
      pairs AS (
        SELECT a.query_id,
          CASE WHEN (a.r64 - b.r64) * (a.r32 - b.r32) > 0
            THEN 1 ELSE 0 END AS conc
        FROM rr a JOIN rr b
          ON b.query_id = a.query_id AND a.vec_id < b.vec_id)
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(conc) AS BIGINT) AS concordant,
        CAST(count(*) - sum(conc) AS BIGINT) AS discordant,
        CAST(((2 * sum(conc) - count(*)) * 1000) // count(*) AS BIGINT)
          AS tau_milli
      FROM pairs GROUP BY 1""")),

    // Geometric median per label (2 fixed Weiszfeld rounds from the
    // mean on the q203 8-dim block) with the robustness readout: mean
    // distance to the MEAN vs to the geometric MEDIAN, and how far
    // the two centers sit apart — the outlier-robust centroid the
    // Lloyd family (q118/q123) never produces: one corrupted
    // embedding drags a mean arbitrarily; the L1-of-L2 center barely
    // moves, and the mean→median shift is itself the contamination
    // signal (q135 flags outlier VECTORS; this measures their pull on
    // the CENTER). Exactness: milli components; squared distances
    // exact int64; each ||·|| is ONE floor'd sqrt on an integer-fed
    // double (q282 convention); Weiszfeld weights 1e9 div (dist+1)
    // integer; every weighted mean an integer div. Scale shape: the
    // (vec, dim<8) explode is a constant 8× fan-out persisted ONCE;
    // each round is one model-sized (label, dim) join + one
    // map-side-combined agg; centers are model frames (labels × 8).
    Q("q308_geometric_median", (s, d) => {
      import s.implicits._
      val ex = t(s, d, "embeddings")
        .select($"vec_id", $"label".cast("long").as("label"),
          posexplode($"embedding").as(Seq("i", "comp")))
        .filter($"i" < 8)
        .select($"vec_id", $"label", $"i".cast("long").as("dim"),
          floor($"comp".cast("double") * 1000).cast("long").as("x"))
        .persist()
      def distTo(c: org.apache.spark.sql.DataFrame) =
        ex.join(c, Seq("label", "dim"))
          .groupBy($"label", $"vec_id")
          .agg(sum(($"x" - $"m") * ($"x" - $"m")).as("d2"))
          .select($"label", $"vec_id",
            expr("cast(floor(sqrt(cast(d2 as double))) as bigint)")
              .as("dist"))
      def step(c: org.apache.spark.sql.DataFrame) = {
        val w = distTo(c)
          .select($"label", $"vec_id",
            expr("1000000000 div (dist + 1)").as("w"))
        ex.join(w, Seq("label", "vec_id"))
          .groupBy($"label", $"dim")
          .agg(expr("sum(w * x) div sum(w)").as("m")).persist()
      }
      val m0 = ex.groupBy($"label", $"dim")
        .agg(expr("sum(x) div count(1)").as("m")).persist()
      val m2 = step(step(m0))
      val shift = m0.join(m2.select($"label", $"dim", $"m".as("m2")),
          Seq("label", "dim"))
        .groupBy($"label")
        .agg(sum(($"m" - $"m2") * ($"m" - $"m2")).as("s2"))
        .select($"label",
          expr("cast(floor(sqrt(cast(s2 as double))) as bigint)")
            .as("center_shift_milli"))
      val dm = distTo(m0).groupBy($"label")
        .agg(count(lit(1)).as("n_vecs"),
          expr("sum(dist) div count(1)").as("mean_dist_mean_milli"))
      val dg = distTo(m2).groupBy($"label")
        .agg(expr("sum(dist) div count(1)").as("mean_dist_gm_milli"))
      dm.join(dg, "label").join(shift, "label")
        .select($"label", $"n_vecs", $"mean_dist_mean_milli",
          $"mean_dist_gm_milli", $"center_shift_milli")
    }, Some("""
      WITH ex AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
          generate_subscripts(embedding, 1) - 1 AS dim,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT)
            AS x
        FROM embeddings),
      e8 AS (SELECT * FROM ex WHERE dim < 8),
      m0 AS (SELECT label, dim, sum(x) // count(*) AS m
             FROM e8 GROUP BY 1, 2),
      d0 AS (SELECT e8.label, e8.vec_id,
               CAST(floor(sqrt(CAST(sum((e8.x - m0.m) * (e8.x - m0.m))
                 AS DOUBLE))) AS BIGINT) AS dist
             FROM e8 JOIN m0 USING (label, dim) GROUP BY 1, 2),
      w0 AS (SELECT label, vec_id, 1000000000 // (dist + 1) AS w FROM d0),
      m1 AS (SELECT e8.label, e8.dim, sum(w0.w * e8.x) // sum(w0.w) AS m
             FROM e8 JOIN w0 USING (label, vec_id) GROUP BY 1, 2),
      d1 AS (SELECT e8.label, e8.vec_id,
               CAST(floor(sqrt(CAST(sum((e8.x - m1.m) * (e8.x - m1.m))
                 AS DOUBLE))) AS BIGINT) AS dist
             FROM e8 JOIN m1 USING (label, dim) GROUP BY 1, 2),
      w1 AS (SELECT label, vec_id, 1000000000 // (dist + 1) AS w FROM d1),
      m2 AS (SELECT e8.label, e8.dim, sum(w1.w * e8.x) // sum(w1.w) AS m
             FROM e8 JOIN w1 USING (label, vec_id) GROUP BY 1, 2),
      d2 AS (SELECT e8.label, e8.vec_id,
               CAST(floor(sqrt(CAST(sum((e8.x - m2.m) * (e8.x - m2.m))
                 AS DOUBLE))) AS BIGINT) AS dist
             FROM e8 JOIN m2 USING (label, dim) GROUP BY 1, 2),
      sh AS (SELECT m0.label,
               CAST(floor(sqrt(CAST(sum((m0.m - m2.m) * (m0.m - m2.m))
                 AS DOUBLE))) AS BIGINT) AS center_shift_milli
             FROM m0 JOIN m2 USING (label, dim) GROUP BY 1),
      sm AS (SELECT label, count(*) AS n_vecs,
               sum(dist) // count(*) AS mean_dist_mean_milli
             FROM d0 GROUP BY 1),
      sg AS (SELECT label, sum(dist) // count(*) AS mean_dist_gm_milli
             FROM d2 GROUP BY 1)
      SELECT sm.label, CAST(sm.n_vecs AS BIGINT) AS n_vecs,
        CAST(sm.mean_dist_mean_milli AS BIGINT) AS mean_dist_mean_milli,
        CAST(sg.mean_dist_gm_milli AS BIGINT) AS mean_dist_gm_milli,
        CAST(sh.center_shift_milli AS BIGINT) AS center_shift_milli
      FROM sm JOIN sg USING (label) JOIN sh USING (label)""")),

    // Retrieval result-list diversity (intra-list distance + redundant
    // pair share of each probe's top-10) — the recsys/RAG eval axis
    // ORTHOGONAL to relevance: q223's nDCG scores how RIGHT the list
    // is, this scores how REDUNDANT it is (10 near-identical hits
    // answer one question once; the MMR/diversity literature's ILD
    // measure). A list can max nDCG and still fail a user. Exactness:
    // result-pair sims floor-ppm quantized fixed-order dots; ILD =
    // mean (1e6 − sim) over the 45 pairs, exact integer; redundancy =
    // pairs above 0.9 cosine. Scale shape: constant-3 probe broadcast
    // (k·n scan), top-10 via the bucketed prefilter + bounded window
    // (q141 pattern); the pair join is within-probe over 10 rows
    // (45 pairs, constant).
    Q("q310_result_diversity", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
        .select($"vec_id", $"embedding".cast("array<double>").as("e"))
      val probes = broadcast(emb.filter($"vec_id" < 3)
        .select($"vec_id".as("query_id"), $"e".as("qe")))
      val wB = Window.partitionBy($"query_id", pmod(hash($"vec_id"), lit(64)))
        .orderBy($"s".desc, $"vec_id".asc)
      val wF = Window.partitionBy($"query_id")
        .orderBy($"s".desc, $"vec_id".asc)
      val top = emb.join(probes, $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id", $"e",
          expr("cast(floor(dot_product(qe, e) * 1000000) as bigint)")
            .as("s"))
        .withColumn("rb", row_number().over(wB)).filter($"rb" <= 10)
        .withColumn("rk", row_number().over(wF)).filter($"rk" <= 10)
        .select($"query_id", $"vec_id", $"e")
      val l = top.select($"query_id", $"vec_id".as("ia"), $"e".as("ea"))
      val r = top.select($"query_id", $"vec_id".as("ib"), $"e".as("eb"))
      l.join(r, "query_id").filter($"ia" < $"ib")
        .select($"query_id",
          expr("cast(floor(dot_product(ea, eb) * 1000000) as bigint)")
            .as("ps"))
        .groupBy($"query_id")
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(1000000 - ps) div count(1)").as("ild_ppm"),
          sum(when($"ps" > 900000, 1L).otherwise(0L))
            .as("n_redundant"))
        .select($"query_id", $"n_pairs", $"ild_ppm", $"n_redundant",
          expr("(n_redundant * 1000000) div n_pairs")
            .as("redundancy_ppm"))
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
                 FROM embeddings),
      q AS (SELECT vec_id AS query_id, ev AS qe FROM e WHERE vec_id < 3),
      s AS (
        SELECT q.query_id, e.vec_id, e.ev,
          CAST(floor(list_sum(list_transform(range(1, 65),
            i -> q.qe[i] * e.ev[i])) * 1000000) AS BIGINT) AS s
        FROM q, e WHERE e.vec_id <> q.query_id),
      top AS (
        SELECT query_id, vec_id, ev,
          row_number() OVER (PARTITION BY query_id
            ORDER BY s DESC, vec_id ASC) AS rk
        FROM s QUALIFY rk <= 10),
      pr AS (
        SELECT a.query_id,
          CAST(floor(list_sum(list_transform(range(1, 65),
            i -> a.ev[i] * b.ev[i])) * 1000000) AS BIGINT) AS ps
        FROM top a JOIN top b
          ON b.query_id = a.query_id AND a.vec_id < b.vec_id)
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(1000000 - ps) // count(*) AS BIGINT) AS ild_ppm,
        CAST(sum(CASE WHEN ps > 900000 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_redundant,
        CAST((sum(CASE WHEN ps > 900000 THEN 1 ELSE 0 END) * 1000000)
          // count(*) AS BIGINT) AS redundancy_ppm
      FROM pr GROUP BY 1""")),

    // Lloyd k-means TRAINING rounds — the E+M alternation the clustering
    // family only half-covers: q118 is ONE M-step over given labels,
    // q123 classifies against FIXED centroids, q300 picks seeds; none
    // iterates. k = 4 data-independent seeds (vec_id 0..3), two full
    // assign→update rounds, reporting per (step, cluster) the membership
    // count and mean squared distance — the convergence readout (inertia
    // must not rise between rounds). Exactness: components are milli-
    // quantized row-locally then scaled to micro units (q118
    // convention), so the seeds, the M-step means (integral div —
    // Spark `div` and DuckDB `//` both truncate toward zero), and every
    // distance term are pure BIGINT; the argmin is the (d2 asc, cid asc)
    // total order; per-member d2 is floor-divided to milli² units BEFORE
    // the DECIMAL(38,0) sum (q353's overflow convention — a raw BIGINT
    // sum wraps silently past ~9.2e18). Scale shape: the centroid frame
    // is k×64 rows — model-sized, broadcast on the dim join (q123
    // shape); each round is ONE corpus pass with map-side-combined
    // (vec, cid) partial aggs; the M-step agg is (k×dim)-sized; the
    // round count is FIXED, so total cost is two linear passes at any
    // corpus size. The exploded corpus frame is persisted once for its
    // four consumers (seed slice, both assignment passes, M-step).
    Q("q357_kmeans_lloyd", (s, d) => {
      import s.implicits._
      val eq = t(s, d, "embeddings")
        .select($"vec_id", posexplode($"embedding").as(Seq("i", "comp")))
        .select($"vec_id", $"i".cast("long").as("dim"),
          (floor($"comp".cast("double") * 1000).cast("long") * 1000L)
            .as("x"))
        .persist()
      val c0 = eq.filter($"vec_id" < 4)
        .select($"vec_id".as("cid"), $"dim", $"x".as("c"))
      def assign(cent: org.apache.spark.sql.DataFrame) = {
        val w = Window.partitionBy($"vec_id").orderBy($"d2".asc, $"cid".asc)
        eq.join(broadcast(cent), "dim")
          .groupBy($"vec_id", $"cid")
          .agg(sum(($"x" - $"c") * ($"x" - $"c")).as("d2"))
          .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select($"vec_id", $"cid", $"d2")
      }
      val a1 = assign(c0).persist() // round-1 report + the M-step reuse it
      val c1 = a1.select($"vec_id", $"cid").join(eq, "vec_id")
        .groupBy($"cid", $"dim")
        .agg(expr("sum(x) div count(1)").as("c"))
      val a2 = assign(c1)
      def report(a: org.apache.spark.sql.DataFrame, r: Int) =
        a.groupBy($"cid")
          .agg(count(lit(1)).cast("long").as("n_members"),
            expr("""cast(sum(cast(d2 div 1000000 as decimal(38,0)))
              div count(1) as bigint)""").as("mean_d2m"))
          .select(lit(r.toLong).as("step"), $"cid", $"n_members",
            $"mean_d2m")
      report(a1, 1).unionAll(report(a2, 2))
    }, Some("""
      WITH eq AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT)
            * 1000 AS x
        FROM embeddings),
      c0 AS (SELECT vec_id AS cid, dim, x AS c FROM eq WHERE vec_id < 4),
      d1 AS (SELECT eq.vec_id, c.cid,
               CAST(sum((eq.x - c.c) * (eq.x - c.c)) AS BIGINT) AS d2
             FROM eq JOIN c0 c USING (dim) GROUP BY 1, 2),
      a1 AS (SELECT vec_id, cid, d2 FROM d1
             QUALIFY row_number() OVER (PARTITION BY vec_id
               ORDER BY d2 ASC, cid ASC) = 1),
      c1 AS (SELECT a1.cid, eq.dim,
               CAST(sum(eq.x) // count(*) AS BIGINT) AS c
             FROM a1 JOIN eq USING (vec_id) GROUP BY 1, 2),
      d2r AS (SELECT eq.vec_id, c.cid,
                CAST(sum((eq.x - c.c) * (eq.x - c.c)) AS BIGINT) AS d2
              FROM eq JOIN c1 c USING (dim) GROUP BY 1, 2),
      a2 AS (SELECT vec_id, cid, d2 FROM d2r
             QUALIFY row_number() OVER (PARTITION BY vec_id
               ORDER BY d2 ASC, cid ASC) = 1)
      SELECT CAST(1 AS BIGINT) AS step, cid,
        CAST(count(*) AS BIGINT) AS n_members,
        CAST(sum(d2 // 1000000) // count(*) AS BIGINT) AS mean_d2m
      FROM a1 GROUP BY 2
      UNION ALL
      SELECT CAST(2 AS BIGINT), cid, CAST(count(*) AS BIGINT),
        CAST(sum(d2 // 1000000) // count(*) AS BIGINT)
      FROM a2 GROUP BY 2"""))
  )
}
