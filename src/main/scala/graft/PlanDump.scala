package graft

/**
 * Dev tool: print the executed physical plan of named SparkEntry queries at
 * sf0.001 — the `.explain` audit loop behind PlanQualitySpec's pins. Runs on
 * the drivers' session settings at a fixed 4 cores, so a plan matches what
 * Bench and Verify execute on a 4-core host.
 * Usage: sbt "runMain graft.PlanDump q_bm25 q_fuzzy_join"
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(cpus = "4", logLevel = "ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // SPARK_GRAFT_PLAN_OUT: write one <query>.txt per query (the
    // plans/r13/ audit artifacts) instead of stdout; formatted explain.
    val outDir = sys.env.get("SPARK_GRAFT_PLAN_OUT")
    outDir.foreach(d => new java.io.File(d).mkdirs())
    for (q <- args) {
      val qe = SparkEntry.queries(q)(spark, dir).queryExecution
      val formatted = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      outDir match {
        case Some(d) =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d/$q.txt"), formatted)
          println(s"########## $q -> $d/$q.txt")
        case None =>
          println(s"########## $q")
          println(formatted.take(6000))
      }
    }
    spark.stop()
  }
}
