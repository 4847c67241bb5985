package graft.vault

import org.apache.spark.sql.types.StructType

/** Schema-drift detection — the reference pipeline's flagship data-contract
  * check (schemadrift_* tables, /root/reference/utlis/send_email.py:26-63;
  * daily temp-table cycle at utlis/etl_manager.py:340-353).
  *
  * Compares the registered staging schema against the incoming source
  * schema and emits one row per difference, `status` 'I' (inserted: present
  * in source, absent in staging) or 'D' (deleted: present in staging,
  * absent in source) — exactly the rows the reference lands in
  * `schemadrift_tablechangedetail`. A type change emits D + I (the column
  * was dropped in its old shape and added in its new one).
  *
  * Schema diffing is driver-side metadata work (a schema is not data);
  * callers turn the rows into a DataFrame so the drift log appends like any
  * table.
  */
object SchemaDrift {

  case class DriftRow(table_name: String, column_name: String,
                      data_type: String, status: String)

  def diff(registered: StructType, incoming: StructType, table: String): Seq[DriftRow] = {
    val reg = registered.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val inc = incoming.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val deleted = registered.fields.toSeq
      .filter(f => !inc.get(f.name).contains(f.dataType.simpleString))
      .map(f => DriftRow(table, f.name, f.dataType.simpleString, "D"))
    val inserted = incoming.fields.toSeq
      .filter(f => !reg.get(f.name).contains(f.dataType.simpleString))
      .map(f => DriftRow(table, f.name, f.dataType.simpleString, "I"))
    (deleted ++ inserted).sortBy(r => (r.column_name, r.status))
  }

  /** True when any drift exists — drives the branch that routes to the
    * notification path (reference dag_etlpipeline__staging.py:125-130). */
  def hasDrift(registered: StructType, incoming: StructType): Boolean =
    diff(registered, incoming, "t").nonEmpty
}
