package graft

/** Where the specs find the generated fixture tables (TESTDATA.md): the
  * root comes from `SPARK_GRAFT_TESTDATA`, else the path TESTDATA.md
  * documents. Forked test JVMs inherit the environment, so exporting it
  * before `sbt test` moves every spec at once. */
object TestData {
  val root: String = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")

  /** Directory of one scale factor's tables, e.g. `sf("0.001")`. */
  def sf(scale: String): String = s"$root/sf$scale"
}
