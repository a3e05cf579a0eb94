package graft.engine.meta

import org.apache.spark.sql.types.{StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** A declared table: the engine's schema source of truth.
  *
  * Mirrors the reference's table-metadata JSON documents
  * (SURVEY.md §1.1 [RECONSTRUCTED]): `{name, location?, columns: [{name,
  * type, description?}], partitions: [...]}` with engine-agnostic type
  * names (see [[TypeMap]]). Schema-on-declare is the reference's core
  * idea: data is *conformed* to this declaration, not inferred.
  */
final case class ColumnMeta(
    name: String,
    agnosticType: String,
    description: Option[String] = None) {
  def sparkField: StructField = StructField(name, TypeMap.toSpark(agnosticType))
}

final case class TableMeta(
    name: String,
    columns: Seq[ColumnMeta],
    location: Option[String] = None,
    partitions: Seq[String] = Nil,
    description: Option[String] = None) {

  def schema: StructType = StructType(columns.map(_.sparkField))

  def toJson: String = {
    import JsonDSL._
    val j: JObject =
      ("name" -> name) ~
        ("description" -> description) ~
        ("location" -> location) ~
        ("columns" -> columns.map { c =>
          ("name" -> c.name) ~ ("type" -> c.agnosticType) ~
            ("description" -> c.description)
        }) ~
        ("partitions" -> partitions)
    JsonMethods.compact(JsonMethods.render(j))
  }
}

object TableMeta {

  /** Parse a metadata JSON document. Fails loudly on missing/odd fields —
    * declared schemas are contracts, not suggestions. */
  def fromJson(json: String): TableMeta = {
    val j = JsonMethods.parse(json)
    def str(v: JValue): Option[String] = v match {
      case JString(s) => Some(s)
      case _          => None
    }
    val name = str(j \ "name").getOrElse(
      throw new IllegalArgumentException("metadata missing 'name'"))
    val cols = (j \ "columns") match {
      case JArray(items) => items.map { c =>
        ColumnMeta(
          str(c \ "name").getOrElse(
            throw new IllegalArgumentException("column missing 'name'")),
          str(c \ "type").getOrElse(
            throw new IllegalArgumentException("column missing 'type'")),
          str(c \ "description"))
      }
      case _ => throw new IllegalArgumentException("metadata missing 'columns'")
    }
    val parts = (j \ "partitions") match {
      case JArray(items) => items.flatMap(str)
      case _             => Nil
    }
    TableMeta(name, cols, str(j \ "location"), parts, str(j \ "description"))
  }
}
