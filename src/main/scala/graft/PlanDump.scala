package graft

/** Dev utility for the optimization rounds: dump one
  * `.explain("formatted")` file per key into a directory —
  * `sbt "runMain graft.PlanDump plans/r20 _before knn_ivf graph_triangles"`.
  * Writes `<outdir>/<key><suffix>.txt` for each key (all keys when
  * none given). Data dir from SPARK_GRAFT_SF_DIR (default sf0.001 —
  * plan SHAPE is scale-independent; the bench numbers are the scale
  * evidence). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outdir> <suffix> [keys...]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // optional session confs ("k=v,k=v") — e.g. pin the graph/cluster
    // fast-path thresholds to 0 so the DISTRIBUTED plan shapes of the
    // driver-fast-path keys stay dumpable (r21, VERDICT item 7); parsed
    // before the session starts so a malformed spec fails at once
    val confs = sys.env.get("SPARK_GRAFT_PLAN_CONFS").map(parseConfs).getOrElse(Nil)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val names = if (args.length > 2) args.drop(2).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        outDir.resolve(s"$name$suffix.txt"), formatted.trim + "\n")
      println(s"wrote $name$suffix.txt")
    }
    spark.stop()
  }

  /** `SPARK_GRAFT_PLAN_CONFS` as trimmed (key, value) pairs: blank
    * segments (a trailing or doubled comma) are skipped, and a segment
    * without `=` or with an empty key fails with its text. */
  def parseConfs(spec: String): Seq[(String, String)] =
    spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { seg =>
      seg.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => (k.trim, v.trim)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_PLAN_CONFS: expected k=v, got '$seg'")
      }
    }
}
