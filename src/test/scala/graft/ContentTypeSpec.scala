package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ContentTypeCatalog

/** Contenttypes-config loading (reference: contenttypes JSON field
  * definitions, __priority.json ordering). Fixtures follow the
  * reference's structure with intentionally re-ordered fields so
  * conformance is observable.
  */
object ContentTypeFixture {
  lazy val dir: String = {
    val d = Files.createTempDirectory("cts").toString
    def w(name: String, body: String): Unit =
      Files.write(Paths.get(d, name), body.getBytes(StandardCharsets.UTF_8))
    w("authors.json",
      """{
        |  "title": "Authors",
        |  "uid": "authors",
        |  "schema": [
        |    {"display_name": "Title", "uid": "title", "data_type": "text",
        |     "mandatory": true, "multiple": false, "unique": false},
        |    {"display_name": "First Name", "uid": "first_name",
        |     "data_type": "text", "multiple": false, "mandatory": false},
        |    {"display_name": "Last Name", "uid": "last_name",
        |     "data_type": "text", "multiple": false, "mandatory": false},
        |    {"display_name": "Email", "uid": "email", "data_type": "text",
        |     "multiple": false, "mandatory": false},
        |    {"display_name": "URL", "uid": "url", "data_type": "text",
        |     "unique": true, "mandatory": false},
        |    {"display_name": "Bio", "uid": "biographical_info",
        |     "data_type": "text", "multiple": false, "mandatory": false}
        |  ]
        |}""".stripMargin)
    w("categories.json",
      """{
        |  "title": "Categories",
        |  "uid": "categories",
        |  "schema": [
        |    {"display_name": "Title", "uid": "title", "data_type": "text",
        |     "mandatory": true},
        |    {"display_name": "URL", "uid": "url", "data_type": "text"},
        |    {"display_name": "Description", "uid": "description",
        |     "data_type": "text"},
        |    {"display_name": "Parent", "uid": "parent",
        |     "data_type": "reference"}
        |  ]
        |}""".stripMargin)
    w("posts.json",
      """{
        |  "title": "Posts",
        |  "uid": "posts",
        |  "schema": [
        |    {"display_name": "Title", "uid": "title", "data_type": "text",
        |     "mandatory": true},
        |    {"display_name": "URL", "uid": "url", "data_type": "text"},
        |    {"display_name": "Author", "uid": "author",
        |     "data_type": "reference"},
        |    {"display_name": "Date", "uid": "date", "data_type": "isodate"},
        |    {"display_name": "Featured Image", "uid": "featured_image",
        |     "data_type": "file"},
        |    {"display_name": "Body", "uid": "full_description",
        |     "data_type": "text"},
        |    {"display_name": "Category", "uid": "category",
        |     "data_type": "reference"},
        |    {"display_name": "Guid", "uid": "guid", "data_type": "text"}
        |  ]
        |}""".stripMargin)
    w("__master.json", """{"uid": "__master", "schema": []}""")
    w("__priority.json", """["categories", "authors", "posts"]""")
    d
  }
}

class ContentTypeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("load parses field definitions from contenttype files") {
    val cts = ContentTypeCatalog.load(spark, ContentTypeFixture.dir)
    assert(cts.keySet == Set("authors", "categories", "posts")) // __ skipped
    assert(cts("posts").fieldOrder == Seq("title", "url", "author", "date",
      "featured_image", "full_description", "category", "guid"))
    val posts = cts("posts").fields.map(f => f.uid -> f).toMap
    assert(posts("author").dataType == "reference")
    assert(posts("date").dataType == "isodate")
    assert(posts("featured_image").dataType == "file")
    assert(posts("title").mandatory)
    assert(!posts("url").mandatory)
    val authors = cts("authors")
    assert(authors.title == "Authors")
    assert(authors.fields.find(_.uid == "url").exists(_.unique))
  }

  test("__priority.json drives module order") {
    assert(ContentTypeCatalog.priority(ContentTypeFixture.dir) ==
      Seq("categories", "authors", "posts"))
  }

  test("conform reorders entry columns to the contenttype and keeps keys first") {
    import spark.implicits._
    val cts = ContentTypeCatalog.load(spark, ContentTypeFixture.dir)
    val df = Seq((1L, "a@x", "Ada", "t", "u", "L", "bio", "ada"))
      .toDF("ID", "email", "first_name", "title", "url", "last_name",
        "biographical_info", "uid")
    val out = ContentTypeCatalog.conform(df, cts("authors"))
    assert(out.columns.toSeq == Seq("ID", "uid",
      "title", "first_name", "last_name", "email", "url", "biographical_info"))
  }

  test("conform rejects entries missing a mandatory field") {
    import spark.implicits._
    val cts = ContentTypeCatalog.load(spark, ContentTypeFixture.dir)
    val df = Seq((1L, "a@x")).toDF("ID", "email") // no title
    val e = intercept[IllegalArgumentException] {
      ContentTypeCatalog.conform(df, cts("authors"))
    }
    assert(e.getMessage.contains("title"))
  }
}
