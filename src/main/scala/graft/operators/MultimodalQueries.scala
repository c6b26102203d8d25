package graft.operators

import graft.catalog.{Q, QueryModule, Tables}

/** Multimodal binary-column surface: opaque payload + typed metadata via
  * per-partition decode (STUB decoder — see [[MultimodalOps]]).
  */
object MultimodalQueries extends QueryModule {

  def qs: Seq[Q] = Seq(
    Q("q40_multimodal_meta", (s, d) => {
      val docs = Tables.t(s, d, "documents")
      MultimodalOps.decodeMeta(s,
        MultimodalOps.withPayload(docs, "text"), "doc_id").toDF()
    }, Some("""
      SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_bytes,
        md5(text) AS digest,
        'asset-' || CAST(ascii(substr(text, 1, 1)) % 10 AS VARCHAR) AS caption
      FROM documents""")),

    // frame sampling: every 4th 64-byte window of the payload becomes a
    // (frame_idx, byte_offset, digest) row — the deterministic stand-in
    // for video frame extraction, with the real explode/slice plumbing
    // (rows ∝ SAMPLED frames only; row-local, no shuffle). The oracle
    // replays the same windows over the text bytes (ASCII corpus, so
    // byte slices == char slices).
    Q("q76_frame_sample", (s, d) => {
      val docs = Tables.t(s, d, "documents")
      MultimodalOps.sampleFrames(
        MultimodalOps.withPayload(docs, "text"), "doc_id",
        frameLen = 64, stride = 4)
    }, Some("""
      WITH f AS (
        SELECT doc_id, text,
          unnest(range(0, (length(text) - 1) // 64 + 1, 4)) AS i
        FROM documents)
      SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        CAST(i * 64 AS BIGINT) AS byte_offset,
        md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS frame_digest,
        CAST(length(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS BIGINT)
          AS n_bytes
      FROM f""")),

    // Magic-byte format sniffing (the ingest-side trust-but-verify
    // every media lake runs: the DECLARED format vs what the payload's
    // leading bytes actually say). Payloads are deterministically
    // tagged with printable magic stand-ins (JFIF/PNG:/RIFF by
    // doc_id % 4, none for the rest; every 13th doc gets a TRUNCATED
    // header — 13 coprime to 4 so the corruption the sniffer must
    // catch hits every format), then sniffed back from the BYTES ONLY. Output is the declared × sniffed
    // confusion matrix with byte mass — corrupt rows land in
    // (declared, unknown). Row-local byte compares inside codegen;
    // one map-side-combined registry agg; no joins.
    Q("q231_media_sniff", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val hdr = when($"doc_id" % 4 === 0, lit("JFIF"))
        .when($"doc_id" % 4 === 1, lit("PNG:"))
        .when($"doc_id" % 4 === 2, lit("RIFF")).otherwise(lit(""))
      val declared = when($"doc_id" % 4 === 0, lit("jpeg"))
        .when($"doc_id" % 4 === 1, lit("png"))
        .when($"doc_id" % 4 === 2, lit("wav")).otherwise(lit("none"))
      Tables.t(s, d, "documents")
        .select($"doc_id", declared.as("declared"),
          concat(when($"doc_id" % 13 === 0, substring(hdr, 1, 2))
            .otherwise(hdr), $"text").cast("binary").as("payload"))
        .select($"declared",
          when(expr("cast(substring(payload, 1, 4) as string)") === "JFIF",
            lit("jpeg"))
            .when(expr("cast(substring(payload, 1, 4) as string)") === "PNG:",
              lit("png"))
            .when(expr("cast(substring(payload, 1, 4) as string)") === "RIFF",
              lit("wav"))
            .otherwise(lit("unknown")).as("sniffed"),
          length($"payload").cast("long").as("nb"))
        .groupBy($"declared", $"sniffed")
        .agg(count(lit(1)).as("n"), sum($"nb").as("total_bytes"),
          max($"nb").as("max_bytes"))
    }, Some("""
      WITH p AS (
        SELECT doc_id,
          CASE WHEN doc_id % 4 = 0 THEN 'jpeg'
               WHEN doc_id % 4 = 1 THEN 'png'
               WHEN doc_id % 4 = 2 THEN 'wav' ELSE 'none' END AS declared,
          (CASE WHEN doc_id % 13 = 0 THEN
             substr(CASE WHEN doc_id % 4 = 0 THEN 'JFIF'
                         WHEN doc_id % 4 = 1 THEN 'PNG:'
                         WHEN doc_id % 4 = 2 THEN 'RIFF' ELSE '' END, 1, 2)
           ELSE CASE WHEN doc_id % 4 = 0 THEN 'JFIF'
                     WHEN doc_id % 4 = 1 THEN 'PNG:'
                     WHEN doc_id % 4 = 2 THEN 'RIFF' ELSE '' END END)
            || text AS payload
        FROM documents),
      c AS (
        SELECT declared,
          CASE WHEN substr(payload, 1, 4) = 'JFIF' THEN 'jpeg'
               WHEN substr(payload, 1, 4) = 'PNG:' THEN 'png'
               WHEN substr(payload, 1, 4) = 'RIFF' THEN 'wav'
               ELSE 'unknown' END AS sniffed,
          strlen(payload) AS nb
        FROM p)
      SELECT declared, sniffed, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(nb) AS BIGINT) AS total_bytes,
        CAST(max(nb) AS BIGINT) AS max_bytes
      FROM c GROUP BY 1, 2""")),

    // Frame-fingerprint near-dup (video-style dedup over the frame
    // digests q76 samples: two payloads sharing many sampled-frame
    // digests are re-encodes / clips of the same asset — the
    // multimodal analog of q116's shingle containment). Inverted
    // frame-digest index with the standard df cap (2..20) so a
    // boilerplate frame (e.g. black frame) cannot fan out
    // quadratically; per pair: shared distinct frames and containment
    // ppm vs the smaller doc's frame count; top-20 pairs. Scale
    // shape: digest-keyed shuffles only, fan-out <= cap²/bucket,
    // TopKPerKeyExec global top-k.
    Q("q232_frame_dedup", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val docs = Tables.t(s, d, "documents")
      // round-16 opt: the per-doc DISTINCT digest stream assembles
      // row-locally (array_distinct over the per-row digest transform —
      // the dedup key contains the doc id, r15 rule), replacing
      // sampleFrames' explode + a corpus-wide .distinct() exchange;
      // the persist stays (2 consumers since checkpoint 7: the pair
      // agg and perDoc).
      val frames = MultimodalOps.withPayload(docs, "text")
        .select($"doc_id", expr(
          """array_distinct(flatten(transform(array(payload), pl ->
            |  transform(sequence(0, (length(pl) - 1) div 64, 4),
            |    i -> md5(substring(pl, i * 64 + 1, 64))))))"""
            .stripMargin).as("ds"))
        .select($"doc_id", explode($"ds").as("frame_digest")).persist()
      val perDoc = frames.groupBy($"doc_id").agg(count(lit(1)).as("nf"))
      // Checkpoint 7: df count and posting list from ONE map-side-
      // combined agg — BoundedCollect bounds every buffer at 21 docs
      // (the df-cap discipline enforced INSIDE the aggregate), so the
      // cached frame is read once for pairs (not df + idx probe) and
      // the digest-keyed join is gone. count(1) == the old
      // countDistinct(doc_id): frames is distinct per (doc, digest)
      // by construction (array_distinct within the doc). Over-cap
      // lists are partition-dependent and discarded by the nd gate.
      val bcol = udaf(graft.functions.BoundedCollect(21))
      val pairs = PairOps.pairCounts(frames.groupBy($"frame_digest")
          .agg(count(lit(1)).as("nd"), bcol($"doc_id").as("dl"))
          .filter($"nd".between(2, 20)),
          "dl", "doc_a", "doc_b", "shared_frames")
        .join(perDoc.select($"doc_id".as("doc_a"), $"nf".as("fa")), "doc_a")
        .join(perDoc.select($"doc_id".as("doc_b"), $"nf".as("fb")), "doc_b")
        .select($"doc_a", $"doc_b", $"shared_frames",
          expr("(shared_frames * 1000000) div least(fa, fb)")
            .as("containment_ppm"))
      CorpusOps.globalTopK(pairs,
        concat($"doc_a", lit(":"), $"doc_b"), 20,
        Seq($"containment_ppm".desc, $"doc_a".asc, $"doc_b".asc))
        .select($"doc_a", $"doc_b", $"shared_frames", $"containment_ppm")
    }, Some("""
      WITH f0 AS (
        SELECT doc_id, text,
          unnest(range(0, (length(text) - 1) // 64 + 1, 4)) AS i
        FROM documents),
      fr AS (
        SELECT DISTINCT doc_id,
          md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS frame_digest
        FROM f0),
      df AS (SELECT frame_digest, count(DISTINCT doc_id) AS nd
             FROM fr GROUP BY 1),
      idx AS (SELECT fr.* FROM fr JOIN df USING (frame_digest)
              WHERE df.nd BETWEEN 2 AND 20),
      pd AS (SELECT doc_id, count(*) AS nf FROM fr GROUP BY 1),
      pr AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          count(*) AS shared_frames
        FROM idx a JOIN idx b ON b.frame_digest = a.frame_digest
                 AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sc AS (
        SELECT pr.doc_a, pr.doc_b, pr.shared_frames,
          (pr.shared_frames * 1000000) // least(pa.nf, pb.nf)
            AS containment_ppm
        FROM pr JOIN pd pa ON pa.doc_id = pr.doc_a
                JOIN pd pb ON pb.doc_id = pr.doc_b)
      SELECT doc_a, doc_b, CAST(shared_frames AS BIGINT) AS shared_frames,
        CAST(containment_ppm AS BIGINT) AS containment_ppm
      FROM (SELECT *, row_number() OVER (ORDER BY containment_ppm DESC,
              doc_a ASC, doc_b ASC) AS rk FROM sc)
      WHERE rk <= 20""")),

    // Payload header/body entropy-split audit per declared format (the
    // media-lake corruption screen BEYOND q231's magic bytes: a
    // well-formed media payload has a STRUCTURED low-entropy header
    // region and a compressed high-entropy body; a blank/filler/
    // truncated payload shows a flat body) — header = first 64 bytes,
    // body = the rest, per-format average entropies + suspect count
    // (body entropy under 1 nat/char: repeated-filler territory for
    // this corpus). Declared formats ride q231's doc_id % 4 tagging.
    // Scale shape: both entropies are the codegen'd
    // char_entropy_nano_sum kernel on row-local substrings (payload
    // == text bytes per the q40/q76 ASCII convention — no explode, no
    // shuffle); ONE map-side-combined 4-row registry agg.
    Q("q303_payload_entropy", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val fmt = when($"doc_id" % 4 === 0, lit("jpeg"))
        .when($"doc_id" % 4 === 1, lit("png"))
        .when($"doc_id" % 4 === 2, lit("riff")).otherwise(lit("raw"))
      Tables.t(s, d, "documents")
        .filter(length($"text") > 64)
        .select(fmt.as("declared"),
          expr("""char_entropy_nano_sum(substring(text, 1, 64)) div 64""")
            .as("hent"),
          expr("""char_entropy_nano_sum(substring(text, 65))
            div (length(text) - 64)""").as("bent"))
        .groupBy($"declared")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(hent) div count(1)").as("avg_header_nano"),
          expr("sum(bent) div count(1)").as("avg_body_nano"),
          sum(when($"bent" < 1000000000L, 1L).otherwise(0L))
            .as("n_suspect"))
    }, Some("""
      WITH base AS (
        SELECT doc_id,
          CASE WHEN doc_id % 4 = 0 THEN 'jpeg'
               WHEN doc_id % 4 = 1 THEN 'png'
               WHEN doc_id % 4 = 2 THEN 'riff' ELSE 'raw' END AS declared,
          substr(text, 1, 64) AS hd, substr(text, 65) AS bd,
          length(text) - 64 AS blen
        FROM documents WHERE length(text) > 64),
      hch AS (SELECT doc_id, unnest(string_split(hd, '')) AS c FROM base),
      htf AS (SELECT doc_id, c, count(*) AS k FROM hch GROUP BY 1, 2),
      hent AS (
        SELECT doc_id,
          sum(k * CAST(floor(ln(64.0 / k) * 1000000000) AS BIGINT)) // 64
            AS hent
        FROM htf GROUP BY 1),
      bch AS (SELECT doc_id, blen, unnest(string_split(bd, '')) AS c
              FROM base),
      btf AS (SELECT doc_id, blen, c, count(*) AS k FROM bch GROUP BY 1, 2, 3),
      bent AS (
        SELECT doc_id,
          sum(k * CAST(floor(ln(blen * 1.0 / k) * 1000000000) AS BIGINT))
            // max(blen) AS bent
        FROM btf GROUP BY 1)
      SELECT base.declared, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(hent.hent) // count(*) AS BIGINT) AS avg_header_nano,
        CAST(sum(bent.bent) // count(*) AS BIGINT) AS avg_body_nano,
        CAST(sum(CASE WHEN bent.bent < 1000000000 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_suspect
      FROM base JOIN hent USING (doc_id) JOIN bent USING (doc_id)
      GROUP BY 1""")),

    // Modality storage accounting (the lake-ops capacity dashboard:
    // per (source, declared format) — payload count, byte mass, avg
    // payload, and each cell's share of its source's total byte mass).
    // The row a storage planner reads before deciding per-modality
    // tiering / compression policy. Payload + declared-format tagging
    // follow q231's conventions. Exactness: byte counts and one ppm
    // floor division per cell — all integer, with the ppm
    // cross-multiply done in DECIMAL(38,0) (q348's convention):
    // BIGINT total_bytes * 1e6 would wrap silently once a source's
    // payload mass exceeds ~9.2 TB — inside the 100 TB operating
    // tier — while DuckDB's HUGEINT sum stays exact. Scale: row-local byte
    // length, ONE map-side-combined (source, fmt) agg; the source-total
    // share rides a window over the REGISTRY-SIZED agg grid (sources x
    // 4 formats — bounded at any corpus size), never over payload rows.
    Q("q353_modality_accounting", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val hdr = when($"doc_id" % 4 === 0, lit("JFIF"))
        .when($"doc_id" % 4 === 1, lit("PNG:"))
        .when($"doc_id" % 4 === 2, lit("RIFF")).otherwise(lit(""))
      val declared = when($"doc_id" % 4 === 0, lit("jpeg"))
        .when($"doc_id" % 4 === 1, lit("png"))
        .when($"doc_id" % 4 === 2, lit("wav")).otherwise(lit("none"))
      val cells = Tables.t(s, d, "documents")
        .select($"source", declared.as("fmt"),
          // octet_length = UTF-8 BYTES in Spark; the oracle's strlen()
          // is DuckDB's byte count — byte-true in BOTH engines (a char
          // count would silently diverge on any non-ASCII corpus)
          octet_length(concat(hdr, $"text")).cast("long").as("nb"))
        .groupBy($"source", $"fmt")
        .agg(count(lit(1)).as("n_payloads"), sum($"nb").as("total_bytes"),
          expr("sum(nb) div count(1)").as("avg_bytes"))
      val wS = Window.partitionBy($"source")
      cells
        .withColumn("__src_total", sum($"total_bytes").over(wS))
        .withColumn("src_share_ppm",
          expr("cast((cast(total_bytes as decimal(38,0)) * 1000000)" +
            " div __src_total as bigint)"))
        .drop("__src_total")
    }, Some("""
      WITH p AS (
        SELECT source,
          CASE WHEN doc_id % 4 = 0 THEN 'jpeg'
               WHEN doc_id % 4 = 1 THEN 'png'
               WHEN doc_id % 4 = 2 THEN 'wav' ELSE 'none' END AS fmt,
          strlen(CASE WHEN doc_id % 4 = 0 THEN 'JFIF'
                      WHEN doc_id % 4 = 1 THEN 'PNG:'
                      WHEN doc_id % 4 = 2 THEN 'RIFF' ELSE '' END || text)
            AS nb
        FROM documents),
      cells AS (
        SELECT source, fmt, count(*) AS n_payloads,
          sum(nb) AS total_bytes, sum(nb) // count(*) AS avg_bytes
        FROM p GROUP BY 1, 2)
      SELECT source, fmt, CAST(n_payloads AS BIGINT) AS n_payloads,
        CAST(total_bytes AS BIGINT) AS total_bytes,
        CAST(avg_bytes AS BIGINT) AS avg_bytes,
        CAST(CAST(total_bytes AS DECIMAL(38,0)) * 1000000 //
          sum(total_bytes) OVER (PARTITION BY source) AS BIGINT)
          AS src_share_ppm
      FROM cells"""))
  )
}
