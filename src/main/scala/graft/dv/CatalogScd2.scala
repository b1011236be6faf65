package graft.dv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCD2 tracking of the source catalog itself — the reference keeps
  * `auto_dw.source_objects` versioned with valid_from / valid_to /
  * current_flag / deleted_flag and flips them on every re-scan
  * (extension/src/model/queries.rs:220-319). Same semantics here, as one
  * declarative merge over (previous state, fresh snapshot):
  *
  *  - new (table, column): inserted with current_flag=Y, deleted_flag=N
  *  - changed (type/ordinal differs): old row closed (valid_to, current=N),
  *    new version inserted
  *  - vanished: kept but flagged deleted_flag=Y
  *  - re-appeared after deletion: deleted_flag back to N
  */
object CatalogScd2 {

  private val Key = Seq("table_name", "column_name")
  private val Attrs = Seq("ordinal", "data_type")

  /** valid_to of an open version: a STRING null. An untyped null literal
    * is NullType, which parquet stores as BOOLEAN until a merge closes a
    * version, so the catalog would not read under one declared schema.
    */
  private def openValidTo = lit(null).cast("string").as("valid_to")

  /** Empty-state bootstrap: every snapshot row becomes a current version. */
  def init(snapshot: DataFrame, ts: String): DataFrame =
    snapshot.select(
      (Key ++ Attrs).map(col) :+
        lit(ts).as("valid_from") :+ openValidTo :+
        lit("Y").as("current_flag") :+ lit("N").as("deleted_flag"): _*)

  /** One re-scan merge: previous SCD2 state + fresh snapshot -> new state. */
  def merge(prev: DataFrame, snapshot: DataFrame, ts: String): DataFrame = {
    val snap = snapshot.select((Key ++ Attrs).map(col): _*)
    val cur = prev.filter(col("current_flag") === "Y")
    val hist = prev.filter(col("current_flag") =!= "Y")

    val joined = cur.as("p").join(snap.as("n"),
      Key.map(k => col(s"p.$k") === col(s"n.$k")).reduce(_ && _), "full_outer")

    val pKey = col("p.table_name")
    val nKey = col("n.table_name")
    // null-safe: with =!= a NULL attribute makes `changed` NULL and the row
    // falls out of every branch (unchanged/closed/opened all filter false),
    // silently dropping the column from the new state
    val changed = Attrs.map(a => !(col(s"p.$a") <=> col(s"n.$a"))).reduce(_ || _)

    // unchanged current rows (possibly resurrecting a deleted one)
    val unchanged = joined.filter(pKey.isNotNull && nKey.isNotNull && !changed)
      .select((Key ++ Attrs).map(k => col(s"p.$k")) :+
        col("p.valid_from") :+ col("p.valid_to") :+
        lit("Y").as("current_flag") :+ lit("N").as("deleted_flag"): _*)
    // changed: close the old version...
    val closed = joined.filter(pKey.isNotNull && nKey.isNotNull && changed)
      .select((Key ++ Attrs).map(k => col(s"p.$k")) :+
        col("p.valid_from") :+ lit(ts).as("valid_to") :+
        lit("N").as("current_flag") :+ col("p.deleted_flag"): _*)
    // ...and open the new one; brand-new columns open too
    val opened = joined.filter(nKey.isNotNull && (pKey.isNull || changed))
      .select((Key ++ Attrs).map(k => col(s"n.$k")) :+
        lit(ts).as("valid_from") :+ openValidTo :+
        lit("Y").as("current_flag") :+ lit("N").as("deleted_flag"): _*)
    // vanished: keep current but mark deleted
    val deleted = joined.filter(pKey.isNotNull && nKey.isNull)
      .select((Key ++ Attrs).map(k => col(s"p.$k")) :+
        col("p.valid_from") :+ col("p.valid_to") :+
        lit("Y").as("current_flag") :+ lit("Y").as("deleted_flag"): _*)

    hist.select((Key ++ Attrs).map(col) :+ col("valid_from") :+ col("valid_to") :+
      col("current_flag") :+ col("deleted_flag"): _*)
      .unionByName(unchanged).unionByName(closed).unionByName(opened).unionByName(deleted)
  }
}
