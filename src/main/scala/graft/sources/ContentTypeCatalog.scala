package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Target schemas COMPILED from contenttypes JSON config instead of
  * hand-transcribed case classes (reference: contenttypes/{authors,
  * categories,posts}.json field definitions; __priority.json import
  * order): the config-driven source of truth the orchestrator uses for
  * module ordering and output-column conformance.
  */
final case class FieldDef(uid: String, dataType: String, multiple: Boolean,
                          mandatory: Boolean, unique: Boolean)

final case class ContentType(uid: String, title: String, fields: Seq[FieldDef]) {
  /** Spark type per contenttype data_type (reference field defs:
    * text / isodate / file -> string-shaped; reference -> uid list;
    * group fields have nested schemas and are skipped by [[sparkSchema]]
    * — none of the pipelines materialize them). */
  def sparkSchema: StructType = StructType(
    fields.filterNot(_.dataType == "group").map { f =>
      val base: DataType = f.dataType match {
        case "reference" => ArrayType(StringType)
        case "number" => DoubleType
        case "boolean" => BooleanType
        case _ => StringType // text, isodate, file
      }
      val t = if (f.multiple && f.dataType != "reference") ArrayType(base) else base
      StructField(f.uid, t, nullable = !f.mandatory)
    })

  def fieldOrder: Seq[String] = fields.map(_.uid)
}

object ContentTypeCatalog {

  /** Module import order from __priority.json (a bare JSON array of
    * module uids — reference contenttypes/__priority.json). */
  def priority(dir: String): Seq[String] = {
    val txt = new String(
      Files.readAllBytes(Paths.get(dir, "__priority.json")), StandardCharsets.UTF_8)
    "\"([^\"]+)\"".r.findAllMatchIn(txt).map(_.group(1)).toSeq
  }

  /** Load every non-meta contenttype definition in `dir`. Parsed with
    * Spark's JSON reader (multiLine), so the schema array's field
    * attributes come through as a unioned struct. */
  def load(spark: SparkSession, dir: String): Map[String, ContentType] = {
    val files = Files.list(Paths.get(dir)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".json") &&
        !p.getFileName.toString.startsWith("__"))
      .toSeq.sortBy(_.toString)
    files.map { p =>
      val df = spark.read.option("multiLine", true).json(p.toString)
      val exploded = df.select(explode(col("schema")).as("f"))
      // schema-union tolerance: a field attribute absent from every
      // entry of a file is missing from the inferred struct entirely
      def opt(path: String) =
        try { exploded.select(col(path)); col(path).cast("boolean") }
        catch { case _: org.apache.spark.sql.AnalysisException =>
          lit(null).cast("boolean") }
      val fieldCols = exploded.select(
        col("f.uid"), col("f.data_type"),
        opt("f.multiple"), opt("f.mandatory"), opt("f.unique"))
      val fields = fieldCols.collect().map { r =>
        FieldDef(r.getString(0), r.getString(1),
          bool(r, 2), bool(r, 3), bool(r, 4))
      }.toSeq
      val head = df.select(col("uid"), col("title")).head()
      val ct = ContentType(head.getString(0), head.getString(1), fields)
      ct.uid -> ct
    }.toMap
  }

  private def bool(r: Row, i: Int): Boolean = !r.isNullAt(i) && r.getBoolean(i)

  /** Reorder/select a module's entry columns to the contenttype's field
    * order; columns the pipeline carries that are not contenttype fields
    * (entry keys like uid/ID/id) stay in front. Mandatory fields must be
    * present. */
  def conform(df: DataFrame, ct: ContentType): DataFrame = {
    val present = ct.fieldOrder.filter(df.columns.contains)
    val missingMandatory = ct.fields
      .filter(f => f.mandatory && !df.columns.contains(f.uid)).map(_.uid)
    require(missingMandatory.isEmpty,
      s"entries for '${ct.uid}' missing mandatory fields: " +
        missingMandatory.mkString(", "))
    val keys = df.columns.filterNot(present.contains)
    df.select((keys.toIndexedSeq ++ present).map(col): _*)
  }
}
