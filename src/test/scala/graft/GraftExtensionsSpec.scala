package graft

/** The config-only activation path: spark.sql.extensions=
  * graft.GraftExtensions (set on the suite's session) must make the
  * dialect resolve in a BRAND-NEW session state — newSession() builds
  * a fresh FunctionRegistry from the injected extensions only, so this
  * passes iff the extension (not some ensureRegistered call elsewhere)
  * did the registering. */
class GraftExtensionsSpec extends SparkSpec {

  test("extensions-injected dialect resolves in a fresh session state") {
    val s = spark.newSession()
    val row = s.sql(
      """SELECT toYear(TIMESTAMP '2024-03-15 00:00:00') AS y,
        |  intDiv(9, 2) AS d,
        |  countIf(true) AS c,
        |  simhash64(array('a', 'b')) AS sh""".stripMargin).collect().head
    assert(row.getAs[Int]("y") == 2024)
    assert(row.getAs[Long]("d") == 4L)
    assert(row.getAs[Long]("c") == 1L)
    assert(row.getAs[Long]("sh") != 0L)
  }

  test("builtins are not shadowed by the extension") {
    val s = spark.newSession()
    // Spark's own position(substr, str) argument order must survive
    assert(s.sql("SELECT position('st', 'haystack') AS p")
      .collect().head.getAs[Int]("p") == 4)
  }

  test("median resolves to the dialect's reservoir before and after ensureRegistered") {
    // both entry points install under one rule: the extension alone
    // must already give the bounded reservoir `median` ensureRegistered
    // installs, so the answer cannot depend on which ran first
    val s = spark.newSession()
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("median")
    def infoClass: Option[String] =
      s.sessionState.functionRegistry.lookupFunction(id).map(_.getClassName)
    val before = infoClass
    graft.functions.GraftFunctions.ensureRegistered(s)
    assert(before == infoClass)
    assert(before.exists(_.startsWith("graft.functions.")), s"median from $before")
  }

  test("no function name is registered twice (case-insensitive)") {
    // Two registrations of one name means the active builder depends
    // on registration order (injectFunction: last wins; the
    // ensureRegistered functionExists guard: first wins) — if the two
    // definitions ever diverge, which one runs is an accident. The
    // registry lowercases names, so the check must too.
    val names = graft.functions.GraftFunctions.descriptors
      .map(_._1.funcName.toLowerCase)
    val dups = names.groupBy(identity)
      .collect { case (n, xs) if xs.size > 1 => n }.toSeq.sorted
    assert(dups.isEmpty, s"duplicate function registrations: ${dups.mkString(", ")}")
  }
}
