package graft.gen

/** Dump a deterministic synthetic transcript table to parquet — input
  * producer for RollupMain runs and the scaling benchmark.
  *
  * {{{ runMain graft.gen.SynthMain <outPath> [nConvs] [baseTurns] [hotFactor] }}}
  */
object SynthMain {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val nConvs = if (args.length > 1) args(1).toInt else 400
    val baseTurns = if (args.length > 2) args(2).toInt else 40
    val hot = if (args.length > 3) args(3).toInt else 20
    val spark = graft.LocalSession.builder(graft.LocalSession.envCpus(8))
      .appName("graft-synth")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Synth.turns(spark, nConvs, baseTurns, hot).write.mode("overwrite").parquet(out)
    println(s"wrote ${spark.read.parquet(out).count()} turns to $out")
    spark.stop()
  }
}
