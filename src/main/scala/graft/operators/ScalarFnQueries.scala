package graft.operators

import org.apache.spark.sql.functions._

import graft.catalog.{Q, QueryModule}
import graft.catalog.Tables.t
import graft.functions.{Permalink, StringFns}

/** Scalar function surface (SURVEY.md §2.8 F1-F12), exercised row-level so
  * the oracle hashes every output value. URLs/guids are synthesized from
  * testdata columns the same way on both engines.
  */
object ScalarFnQueries extends QueryModule {


  def qs: Seq[Q] = Seq(

    // F1+F2 — slugify + URL prefix (authors.js:45-50).
    Q("q17_slugify", (s, d) => {
      import s.implicits._
      t(s, d, "part")
        .select($"p_partkey", StringFns.slugify($"p_name").as("slug"))
        .withColumn("url", StringFns.urlPrefix("/category/", $"slug"))
    }, Some("""
      SELECT p_partkey,
        regexp_replace(lower(p_name), '[^a-z0-9_-]+', '-', 'g') AS slug,
        '/category/' || regexp_replace(lower(p_name), '[^a-z0-9_-]+', '-', 'g') AS url
      FROM part""")),

    // F3 — HTML entity decode (categories.js:50,55); entity injected
    // deterministically from testdata columns on both engines.
    Q("q18_entity_decode", (s, d) => {
      import s.implicits._
      t(s, d, "documents").select(
        $"doc_id",
        StringFns.entityDecode(concat($"source", lit(" &amp; "), $"lang"))
          .as("title"))
    }, Some("""
      SELECT doc_id,
        replace(source || ' &amp; ' || lang, '&amp;', '&') AS title
      FROM documents""")),

    // F4 — guid relativize: strip scheme+host, keep path (posts.js:149).
    Q("q19_url_relativize", (s, d) => {
      import s.implicits._
      val guid = concat(lit("https://cdn.example.com/files/"), $"source",
        lit("/"), $"doc_id".cast("string"), lit(".txt"))
      t(s, d, "documents").select(
        $"doc_id",
        StringFns.relativize(guid).as("rel_url"))
    }, Some("""
      SELECT doc_id,
        '/' || regexp_replace('https://cdn.example.com/files/' || source || '/' || CAST(doc_id AS VARCHAR) || '.txt',
                              '^(?:\/\/|[^\/]+)*\/', '') AS rel_url
      FROM documents""")),

    // F5+F7 — permalink structure expansion with zero-padded date parts
    // (posts.js:58-141); structure resolved at plan time.
    Q("q20_permalink", (s, d) => {
      import s.implicits._
      t(s, d, "orders").select(
        $"o_orderkey",
        Permalink.expand("/%year%/%monthnum%/%day%/%postname%/",
          $"o_orderdate", $"o_orderkey",
          concat(lit("order-"), $"o_orderkey".cast("string"))).as("permalink"))
    }, Some("""
      SELECT o_orderkey,
        strftime(o_orderdate, '/%Y/%m/%d/') || 'order-' || CAST(o_orderkey AS VARCHAR) || '/' AS permalink
      FROM orders""")),

    // F6 — ISO-8601 date rendering (posts.js:151).
    Q("q21_iso_date", (s, d) => {
      import s.implicits._
      t(s, d, "orders").select(
        $"o_orderkey",
        StringFns.isoDate($"o_orderdate").as("order_iso"))
    }, Some("""
      SELECT o_orderkey,
        strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS order_iso
      FROM orders""")),

    // F12-adjacent — JSON field extraction from a string column (the
    // engine's JSON parsing surface; events.props is JSON text).
    Q("q22_json_extract", (s, d) => {
      import s.implicits._
      t(s, d, "events").select(
        $"event_id",
        get_json_object($"props", "$.k").cast("long").as("k_val"))
    }, Some("""
      SELECT event_id,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
      FROM events""")),

    // F8/F10 — split → last path segment (assets.js:74-78 filename logic).
    Q("q23_last_segment", (s, d) => {
      import s.implicits._
      val url = concat(lit("https://cdn.example.com/files/"), $"source",
        lit("/"), $"doc_id".cast("string"), lit(".txt"))
      t(s, d, "documents").select(
        $"doc_id",
        StringFns.lastSegment(url).as("filename"))
    }, Some("""
      SELECT doc_id,
        regexp_extract('https://cdn.example.com/files/' || source || '/' || CAST(doc_id AS VARCHAR) || '.txt',
                       '([^/]*)$', 1) AS filename
      FROM documents""")),

    // F9 — encodeURI via the custom codegen'd Catalyst expression
    // (assets.js:77). Part names are [a-z ]+, so the oracle's space→%20
    // is the exact expected encoding here; full character-class semantics
    // are pinned in EncodeUriSpec.
    Q("q24_encode_uri", (s, d) => {
      import s.implicits._
      t(s, d, "part").select(
        $"p_partkey",
        call_function("encode_uri",
          concat(lit("https://cdn.example.com/media/"), $"p_name"))
          .as("encoded_url"))
    }, Some("""
      SELECT p_partkey,
        'https://cdn.example.com/media/' || replace(p_name, ' ', '%20') AS encoded_url
      FROM part"""))
  )
}
