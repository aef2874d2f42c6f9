package graft

/** The SQL-callable graft function table: every row registered, every
  * row's arity gate naming its function. */
class GraftSessionSpec extends SparkSpec {

  test("the session registers exactly the table's graft functions") {
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    val names = GraftSession.Functions.map(_._1)
    assert(names.distinct.size == names.size, names)
    assert(registered == names.toSet)
  }

  test("a wrong-arity SQL call fails naming the function") {
    GraftSession.Functions.foreach { case (name, _, n, _) =>
      // one argument too many for a fixed arity; a lone argument for a
      // (text, literal...) function
      val args = n.fold(Seq("'t'"))(k => Seq.fill(k + 1)("1"))
      val err = intercept[Exception] {
        spark.sql(s"SELECT $name(${args.mkString(", ")})").collect()
      }
      val want = n.fold(s"$name expects (")(k => s"$name expects $k argument(s)")
      assert(err.getMessage.contains(want), s"$name: ${err.getMessage}")
    }
  }
}
