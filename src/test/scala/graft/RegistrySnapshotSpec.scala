package graft

import scala.io.Source

import graft.functions.{ChSystem, GraftFunctions}

/** The registered function surface, pinned: the sorted
  * (name, is_aggregate) rows of system.functions in a fresh session
  * (so no other spec's CREATE FUNCTION leaks into the listing) equal
  * the checked-in snapshot. Reorganizing the function modules must
  * leave this listing unchanged. */
class RegistrySnapshotSpec extends SparkSpec {

  private def snapshot: Seq[String] = {
    val src = Source.fromResource("graft/registry_snapshot.tsv")
    try src.getLines().filter(_.nonEmpty).toList finally src.close()
  }

  test("system.functions equals the checked-in (name, is_aggregate) snapshot") {
    val s = spark.newSession()
    GraftFunctions.ensureRegistered(s)
    val got = s.table(ChSystem.ensure(s, "functions")).collect()
      .map(r => s"${r.getString(0)}\t${r.getBoolean(1)}").sorted.toSeq
    val want = snapshot
    val missing = want.diff(got)
    val extra = got.diff(want)
    assert(missing.isEmpty && extra.isEmpty,
      s"missing: ${missing.take(20).mkString(", ")}; extra: ${extra.take(20).mkString(", ")}")
  }

  test("graft registers 1,041 names, no two equal ignoring case") {
    val names = GraftFunctions.descriptors.map(_._1.funcName)
    assert(names.size == 1041)
    assert(names.map(_.toLowerCase).distinct.size == names.size)
  }
}
