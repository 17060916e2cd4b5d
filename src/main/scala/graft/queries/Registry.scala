package graft.queries

import Qs.Q

/** Query functions and, under the same names, their DuckDB oracle SQL. */
trait Batch {
  def queries: Map[String, Q]
  def oracle: Map[String, String]
}

/** The catalog: every batch listed once (a new batch is one line here),
  * each query paired with its oracle SQL, in the one name order that
  * every main and gate walks.
  */
object Registry {
  final case class Entry(name: String, batch: Batch, build: Q, oracleSql: String)

  val batches: Seq[Batch] = Seq(Parity, Relational, Relational2, Relational3, Relational4,
    Pipeline, Pipeline2, Pipeline3, Pipeline4, Pipeline5, Pipeline6, Pipeline7, Pipeline8, Pipeline9,
    Pipeline10, Pipeline11, Pipeline12, Pipeline13, Pipeline14, Pipeline15, Pipeline16, Pipeline17,
    Pipeline18, Pipeline19, Pipeline20, Pipeline21, Pipeline22, Pipeline23, Pipeline24, Pipeline25,
    Pipeline26, Pipeline27, Pipeline28, Pipeline29, Pipeline30, Pipeline31, Pipeline32, Pipeline33,
    Pipeline34, Pipeline35, Pipeline36, Pipeline37, Pipeline38, Pipeline39, Pipeline40, Pipeline41,
    Pipeline42, Pipeline43, Extensions)

  lazy val entries: Seq[Entry] = pair(batches)

  def batchName(b: Batch): String = b.getClass.getSimpleName.stripSuffix("$")

  /** The batches' entries by name. Throws, naming every offender, on a query without an
    * oracle or the reverse, and on a name two batches declare (a map join keeps the later). */
  def pair(batches: Seq[Batch]): Seq[Entry] = {
    val problems = batches.flatMap { b =>
      (b.queries.keySet -- b.oracle.keySet).map(n => s"$n in ${batchName(b)} has no oracle") ++
        (b.oracle.keySet -- b.queries.keySet).map(n => s"$n in ${batchName(b)} has no query")
    } ++ batches.flatMap(b => b.queries.keys.map(_ -> batchName(b))).groupMap(_._1)(_._2).collect {
      case (n, owners) if owners.size > 1 => s"$n is declared by ${owners.mkString(", ")}"
    }
    require(problems.isEmpty, problems.sorted.mkString("catalog is inconsistent:\n", "\n", ""))
    batches.flatMap(b => b.queries.map { case (n, q) => Entry(n, b, q, b.oracle(n)) }).sortBy(_.name)
  }

  /** The named entries in catalog order, all for no names; throws on an unknown name. */
  def select(names: Seq[String]): Seq[Entry] = {
    val unknown = names.distinct.filterNot(n => entries.exists(_.name == n))
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) entries else entries.filter(e => names.contains(e.name))
  }
}
