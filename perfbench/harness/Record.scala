package graft.perfbench

import graft.{CurationRun, Queries}

/** Prints the expected outputs the benchmark checks against, over the
  * tables in `<tables>`:
  *
  * {{{
  * Record <tables> <tmp> queries    # expected/query_suite.tsv rows
  * Record <tables> <tmp> curation   # expected/curation_run.tsv rows
  * }}}
  *
  * `queries` prints, for every headline query, one tab-separated row:
  * name, module, row count, fingerprint. `curation` prints the fields of
  * one `CurationRun.run` summary, one `name<TAB>value` row each.
  */
object Record {
  def main(argv: Array[String]): Unit = {
    val Array(tables, tmp, what) = argv
    val a = Main.Args("record", 0, 0, traced = false, "", tmp, "", 4)
    val spark = Main.session(a)
    what match {
      case "queries" =>
        Queries.all.filter(_.headline).foreach { q =>
          val r = QuerySuite.fingerprint(q.build(spark, tables)).collect().head
          println(Seq("[record]", q.name, QuerySuite.moduleOf(q.name), r.getLong(0),
            Option(r.getDecimal(1)).map(_.toString).getOrElse("null")).mkString("\t"))
        }
      case "curation" =>
        QuerySuite.summaryFields(CurationRun.run(spark, tables, s"$tmp/curation"))
          .foreach { case (k, v) => println(s"[record]\t$k\t$v") }
    }
    spark.stop()
  }
}
