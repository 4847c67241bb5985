package graft.metavault

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.controlplane.ControlPlane
import graft.vault.Vault

/** Meta Vault: the registry-of-the-vault the reference maintains from dbt
  * YAML model files (/root/reference/utlis/etl_manager.py:585-1379) — model
  * definitions parsed from schema YAML, synced into hub/satellite-shaped
  * registry tables with full add/delete/reused lifecycle.
  *
  * The YAML subset parser handles exactly the dbt schema shape the
  * reference walks (etl_manager.py:645-682,878-895): `models:` list with
  * `name` / `description` / `columns: [{name}]`. No external YAML dep —
  * the build is zero-egress; the dbt subset is line-regular enough for a
  * deterministic indentation parser, and parse happens driver-side on
  * KB-scale files (data-plane tables never round-trip through YAML).
  */
object ModelRegistry {

  case class ColumnDef(name: String)
  case class ModelDef(name: String, description: String, columns: Seq[ColumnDef]) {
    /** hub/link/satellite taxonomy from the name prefix — the reference's
      * entity classification (etl_manager.py:661-675). */
    def entityType: String =
      if (name.startsWith("hub_")) "hub"
      else if (name.startsWith("link_")) "link"
      else if (name.startsWith("satellite_") || name.startsWith("sat_")) "satellite"
      else "other"
  }

  /** Parse the dbt-schema YAML subset: models[].name/description/columns[].name. */
  def parseModelYaml(text: String): Seq[ModelDef] = {
    val lines = text.linesIterator.map(_.replaceAll("#.*$", "")).toSeq
    val models = scala.collection.mutable.ListBuffer.empty[ModelDef]
    var name: Option[String] = None
    var desc = ""
    var cols = scala.collection.mutable.ListBuffer.empty[ColumnDef]
    var inColumns = false
    def flush(): Unit = {
      name.foreach(n => models += ModelDef(n, desc, cols.toList))
      name = None; desc = ""; cols = scala.collection.mutable.ListBuffer.empty; inColumns = false
    }
    val modelName = """^\s{0,4}-\s*name:\s*(.+?)\s*$""".r
    val colName = """^\s{5,}-\s*name:\s*(.+?)\s*$""".r
    val descRe = """^\s+description:\s*["']?(.*?)["']?\s*$""".r
    lines.foreach {
      case colName(c) if inColumns => cols += ColumnDef(normalize(c))
      case modelName(m) => flush(); name = Some(normalize(m))
      case descRe(d) if name.isDefined && !inColumns => desc = d
      case l if l.trim == "columns:" => inColumns = true
      case _ =>
    }
    flush()
    models.toList
  }

  /** The reference's name normalization (etl_manager.py:659,751,889). */
  def normalize(s: String): String = s.replace(" ", "_").toLowerCase

  def toDF(spark: SparkSession, models: Seq[ModelDef]): DataFrame = {
    import spark.implicits._
    models.map(m => (m.name, m.description, m.entityType, m.columns.map(_.name)))
      .toDF("model_name", "description", "entity_type", "columns")
  }

  /** Sync the entity registry from freshly-parsed models: MERGE semantics +
    * add/delete/reused lifecycle (ControlPlane.syncRegistry = the J5 MERGE
    * and J2-J4/J6 transitions). Returns (registry', changeLog). */
  def syncEntities(registry: DataFrame, models: DataFrame,
                   loadDate: String): (DataFrame, DataFrame) =
    ControlPlane.syncRegistry(
      registry, models.select(col("model_name"), col("entity_type")),
      Seq("model_name", "entity_type"), lit(loadDate))

  /** Hub of registered model concepts, built with the same vault builders
    * the data plane uses (hub_concept, etl_manager.py:617-635). */
  def conceptHub(models: DataFrame, loadDate: String): DataFrame =
    Vault.hub(models.select(col("entity_type").as("concept")), "concept",
      Seq("concept"), lit(loadDate), "metavault")
}
