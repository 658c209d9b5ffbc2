package graft
package faces

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One face: a Spark plan over the tables of an sf directory, and the
  * DuckDB SQL over the same parquet tables whose result it must equal
  * exactly (see [[SparkEntry]] for the conventions that make the compare
  * exact). `plan` takes the session and the sf directory.
  */
final case class Face(name: String, plan: (SparkSession, String) => DataFrame,
                      oracle: String)

/** A family of faces: the object that declares a face is its family, and
  * `family` is the tag [[SparkEntry.familyOf]] reports for each of them.
  * A streaming or stored dual lives in the family of the batch face whose
  * oracle it shares, so each oracle text has one owner.
  */
private[graft] abstract class Family(val family: String) {
  def faces: Seq[Face]
}
