package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Tracing overhead from alternating (traced?, ms) samples: each traced
    * sample against the mean of its untraced neighbours, so a warm-up
    * trend across the run cancels out. The median of those ratios.
    */
  def overheadRatio(xs: Seq[(Boolean, Double)]): Double = {
    val ratios = (1 until xs.size - 1).collect {
      case i if xs(i)._1 && !xs(i - 1)._1 && !xs(i + 1)._1 =>
        xs(i)._2 / ((xs(i - 1)._2 + xs(i + 1)._2) / 2)
    }
    if (ratios.isEmpty) 1.0 else median(ratios)
  }
}

/** Outcome of one run: counts, end-to-end or per-layer metrics, and
  * whether every output check held.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  private val checks = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Record a failed check; the run's `correct` turns false. */
  def fail(what: String): Unit = {
    checks += what
    System.err.println(s"[graftbench] FAILED: $what")
  }
  def correct: Boolean = checks.isEmpty && failed == 0

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":$v,"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }
}

/** Everything a workload needs: the session, its inputs and where it
  * may write.
  */
final case class Ctx(spark: SparkSession, data: String, scratch: String,
    seed: Long, seconds: Int, tracer: Tracer, result: Result)

/** The benchmark's JVM entry point; `graftbench/run.py` builds the
  * classpath, makes the inputs and the scratch root, and calls it:
  *
  *   --workload cdc_upsert|batch_mix --seed N
  *   --seconds S --trace 0|1 --data DIR --scratch DIR --out FILE
  *   [--trace-out FILE]
  *
  * `--workload record_digests` instead prints the output digest of
  * every query `batch_mix` times, and `--workload digest_dumps`
  * the digest of each query's `graft.Verify` dump under `--data`.
  * `--workload cds_training` exercises both workloads briefly, so the
  * JVM can archive the classes they load (run.py's class-data archive).
  */
object Main {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The session settings of `graft.Bench`, with every scratch path
    * under the run's own root.
    */
  def session(scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "128k")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$scratch/checkpoints")
    spark
  }

  /** CPU time of the whole JVM process, all threads, in seconds. */
  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Heap in use after full collections, in MB. Spark's ContextCleaner
    * drops broadcast and shuffle blocks asynchronously once a collection
    * has found them unreachable, so collect, give it time, and repeat.
    */
  def heapAfterGcMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = need("workload")
    // only the measured workloads draw inputs from a seed and size a run
    val (seed, seconds) =
      if (Set("cdc_upsert", "batch_mix")(workload)) (need("seed").toLong, need("seconds").toInt)
      else (0L, 0)
    val t0 = System.nanoTime()
    val spark = session(need("scratch"))
    val tracer = new Tracer(spark, opts.get("trace").contains("1"))
    val ctx = Ctx(spark, need("data"), need("scratch"), seed, seconds, tracer, new Result)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      workload match {
        case "record_digests" => BatchRounds.recordDigests(ctx)
        case "digest_dumps" => BatchRounds.digestDumps(ctx)
        case "cds_training" =>
          BatchRounds.train(ctx)
          CdcUpsert.train(ctx)
        case "cdc_upsert" => CdcUpsert.run(ctx, sessionS)
        case "batch_mix" => BatchRounds.run(ctx, sessionS)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      opts.get("trace-out").foreach(p => if (tracer.enabled) tracer.write(p))
      opts.get("out").foreach(p => java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), ctx.result.json + "\n"))
    } finally spark.stop()
  }
}
