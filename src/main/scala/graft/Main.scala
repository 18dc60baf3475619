package graft

import graft.sizing.{Pipeline, SizingConfig}

/** CLI mirroring `python impala_query_sizing.py sizing.conf` (py:58–69):
  * one arg = config path (key=value format), optional second arg = output
  * directory (default "."). Prints the five-section report; each config
  * key the parser does not read is named on stderr.
  *
  * `SPARK_MASTER` (a deployment setting only this main reads) replaces
  * the local master of [[GraftSession]].
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Main <sizing.conf> [outDir]")
      sys.exit(1)
    }
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(args(0))))
    val cfg = SizingConfig.fromProperties(text)
    SizingConfig.unknownKeys(text).foreach(k =>
      System.err.println(s"[config] unknown key $k ignored"))
    val outDir = if (args.length > 1) args(1) else "."
    val local = GraftSession.builder("graft-sizing")
    val spark =
      GraftSession(sys.env.get("SPARK_MASTER").fold(local)(local.master))
    try println(Pipeline.run(spark, cfg, outDir).render)
    finally spark.stop()
  }
}
