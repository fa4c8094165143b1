package graft.tools

import graft.SparkEntry

/** Dev tool: dump formatted physical plans for named queries (or all). */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session("local[8]", 8)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val queries = SparkEntry.selected().filter(q => args.isEmpty || args.contains(q.name))
    args.diff(queries.map(_.name)).foreach(n => System.err.println(s"[explain] $n: not selected"))
    SparkEntry.sweep(spark, queries) { q =>
      println(s"\n========== ${q.name} ==========")
      q.run(spark, sfDir).explain("formatted")
    }.failed.foreach { case (name, e) =>
      System.err.println(s"[explain] $name FAILED: ${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).take(200))
    }
    spark.stop()
  }
}
