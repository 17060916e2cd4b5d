package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A catalog joined from per-batch maps lets a repeated query name
  * silently REPLACE an earlier entry — an entire previously-green query
  * can vanish from the catalog without any test noticing (it nearly
  * happened: a new q_ewma shadowed Pipeline7's, and new q_funnel/q_scd2
  * were themselves shadowed by Extensions'). Pin uniqueness across every
  * batch of the registry, for queries and oracles alike, and pin that
  * no batch is left out of the registry.
  */
class NoDuplicateKeysSpec extends AnyFunSuite {

  private def dupes(maps: Seq[(String, Map[String, _])]): Seq[String] =
    maps.flatMap { case (mod, m) => m.keys.map(_ -> mod) }
      .groupBy(_._1).filter(_._2.size > 1)
      .map { case (k, owners) => s"$k in ${owners.map(_._2).mkString(", ")}" }
      .toSeq.sorted

  private val queryMaps = Registry.batches.map(b => Registry.batchName(b) -> b.queries)
  private val oracleMaps = Registry.batches.map(b => Registry.batchName(b) -> b.oracle)

  test("no query name is declared by two batches") {
    assert(dupes(queryMaps).isEmpty,
      "duplicate query keys (later batch silently wins):\n" +
        dupes(queryMaps).mkString("\n"))
  }

  test("no oracle name is declared by two batches") {
    assert(dupes(oracleMaps).isEmpty,
      "duplicate oracle keys:\n" + dupes(oracleMaps).mkString("\n"))
  }

  test("every query has an oracle and every oracle a query") {
    val q = queryMaps.flatMap(_._2.keys).toSet
    val o = oracleMaps.flatMap(_._2.keys).toSet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
    assert(Registry.entries.map(_.name).toSet == q)
  }

  private val stub: Qs.Q = (_, _) => ???
  private object First extends Batch {
    val queries: Map[String, Qs.Q] = Map("q_a" -> stub, "q_b" -> stub)
    val oracle: Map[String, String] = Map("q_a" -> "SELECT 1", "q_b" -> "SELECT 2")
  }
  private object Second extends Batch {
    val queries: Map[String, Qs.Q] = Map("q_b" -> stub, "q_d" -> stub)
    val oracle: Map[String, String] = Map("q_b" -> "SELECT 3", "q_c" -> "SELECT 4")
  }

  test("the registry rejects a name two batches declare and an unpaired query or oracle") {
    assert(Registry.pair(Seq(First)).map(e => e.name -> e.oracleSql) ==
      Seq("q_a" -> "SELECT 1", "q_b" -> "SELECT 2"))
    val e = intercept[IllegalArgumentException](Registry.pair(Seq(First, Second)))
    assert(e.getMessage.contains("q_b is declared by First, Second"), e.getMessage)
    assert(e.getMessage.contains("q_c in Second has no query"), e.getMessage)
    assert(e.getMessage.contains("q_d in Second has no oracle"), e.getMessage)
  }

  test("every `extends Batch` object in src/main is in the registry") {
    // A batch left out of the list is dead code the way an unwired module
    // is: it compiles, and no main or gate ever runs it.
    val files = Files.walk(Paths.get("src/main/scala"))
    val sources = try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toList
    finally files.close()
    val declared = sources.flatMap { case (_, src) =>
      """(?m)^object\s+(\w+)\s+extends\s+Batch\b""".r.findAllMatchIn(src).map(_.group(1))
    }.toSet
    val registered = Registry.batches.map(Registry.batchName).toSet
    assert(registered.subsetOf(declared), s"the scan missed: ${registered -- declared}")
    assert((declared -- registered).isEmpty, s"not in Registry.batches: ${declared -- registered}")
    // A query map outside a Batch object would not reach the registry.
    val unregistered = sources.collect {
      case (f, src) if src.contains("val queries: Map[String, Q]") &&
        !src.contains("extends Batch") => f
    }
    assert(unregistered.isEmpty, s"query maps outside a Batch: $unregistered")
  }
}
