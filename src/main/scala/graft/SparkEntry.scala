package graft

import graft.gates._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: the gate registry. SURVEY.md §2 lists the operator each
  * gate demonstrates; the gates themselves live per family under
  * `graft/gates/`, each query next to its oracle.
  */
object SparkEntry {

  /** The driver's smoke-test tables (scale factor 0.001). */
  val SmokeDir = "/root/testdata/sf0.001"

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = gate("q_multi_join_agg").run(spark, SmokeDir)

  /** `gs`, after checking that no two gates share a name. */
  private[graft] def uniqueNames(gs: Seq[Gate]): Seq[Gate] = {
    val dups = gs.groupBy(_.name).collect { case (name, g) if g.size > 1 => name }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gs
  }

  /** Every gate, built once. */
  val gates: Seq[Gate] = uniqueNames(Seq(
    KwwhatGates.gates, IntervalGates.gates, StreamingGates.gates, DedupGates.gates,
    AnnGates.gates, TokenizerGates.gates, MediaGates.gates, MiscGates.gates).flatten)

  private lazy val byName: Map[String, Gate] = gates.map(g => g.name -> g).toMap

  /** The gate called `name`; throws on an unknown name. */
  def gate(name: String): Gate =
    byName.getOrElse(name, throw new NoSuchElementException(s"no gate named $name"))
}
