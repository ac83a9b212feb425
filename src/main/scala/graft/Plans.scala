package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dump `.explain("formatted")` for declared queries to files —
  * the optimization rounds' before/after plan evidence
  * (`plans/rNN/<query>_<suffix>.txt`). Session and staging come from
  * [[Harness]], as in [[Bench]], so the dumped plans are the shapes the
  * bench actually times. NOT part of the shipped library and not a
  * declared query.
  *
  * Usage: sbt "runMain graft.Plans <outDir> <suffix> <nameRegex>"
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val pat = args(2).r
    val sfDir = Harness.sfDir
    val spark = Harness.session(Harness.cpus, bench = true)
    Harness.stage(spark, sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for ((name, fn) <- Harness.plans(Some(pat))) {
      Harness.isolate(spark)
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plans] wrote $outDir/${name}_$suffix.txt")
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[plans] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
