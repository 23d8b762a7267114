package graft

/** Documents-only synthetic corpus generator: factor× sf-dir rows with
  * the same token-salting discipline as [[ScaleDemo]] (within-replica
  * structure identical, zero cross-replica overlap). For cluster-shaped
  * A/B measurement of text-family plans at data-bound sizes (pair with
  * `CpuBench`, which trains the documents-sourced artifacts itself).
  * Usage: `sbt "runMain graft.SynthDocs <src> <dst> <factor>"` */
object SynthDocs {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: SynthDocs <src> <dst> <factor>")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    ScaleDemo.synthDocs(spark, args(0), args(1), args(2).toInt)
    println(s"[synth] wrote ${args(1)}/documents.parquet (${args(2)}x ${args(0)})")
    spark.stop()
  }
}
