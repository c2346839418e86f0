package graft

import java.nio.file.{Files, Paths}

/** Plan-capture main for the optimization-round deliverables: writes
  * `explain("formatted")` of the named queries to
  * `<outDir>/<query>_<suffix>.txt`: the COMPLETE formatted plan, so
  * before/after plan claims are checkable offline.
  *
  * Usage: runMain graft.ExplainFmt <outDir> <suffix> [query ...]
  */
object ExplainFmt {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq
      else Queries.all.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.create(s"local[$cpus]", cores = cpus)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = Queries.all(name)(spark, sfDir)
        val plan = org.apache.spark.sql.GraftBridge.explainString(df)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"[explain] wrote $name")
      } catch { case e: Throwable =>
        println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
