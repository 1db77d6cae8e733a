package graft.tools
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = args.headOption.map(_.toInt).getOrElse(graft.Sessions.cpus)
    val spark = graft.Sessions.local(cpus)
    // warm
    spark.range(10000000L).selectExpr("sum(id)").collect()
    def once(n: Long): Double = {
      val t0 = System.nanoTime()
      spark.range(n).selectExpr("sum(length(md5(cast(id as string))))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val t = (1 to 3).map(_ => once(20000000L)).min
    println(f"[probe] cpus=$cpus md5-20M min $t%.3f s")
    spark.stop()
  }
}
