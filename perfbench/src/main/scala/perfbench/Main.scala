package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.queries.Catalog

/** The benchmark harness: one workload, one fresh JVM.
  *
  * A run is set-up (three times, see [[setupOnce]]), one cold pass, then
  * warm passes until `--seconds` have been measured. Before every pass the
  * engine's deferred caches, Spark's cache and the scratch directory are
  * reset and the reset is asserted, so a warm pass repeats the cold pass's
  * work instead of reading what it persisted. Every op is timed from the
  * call into its catalog builder to the end of `collect()`; fingerprints,
  * result dumps and cache resets happen outside the timed region.
  *
  * Writes one JSON document (`--out`) that `run.py` turns into the
  * benchmark's metrics; the oracle comparison also happens there.
  */
object Main {
  final case class Op(name: String, run: (SparkSession, String) => DataFrame)

  /** One timed call. `buildS` is the part spent inside the builder
    * (several builders run eager persist/count or checkpoint jobs);
    * `cpuS` is the process CPU time spent during the call. */
  final case class Sample(op: String, buildS: Double, totalS: Double,
      cpuS: Double, rows: Long, fingerprint: String, error: String)

  final case class PassResult(pass: Int, wallS: Double, cpuS: Double,
      samples: Seq[Sample])

  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = Workloads.byName(opt("workload"))
    val data = opt("data")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = new File(opt("out"))
    val scratch = new File(sys.props("java.io.tmpdir"))
    val cores = Runtime.getRuntime.availableProcessors
    out.mkdirs()

    // Set-up, three times; the last session is the one measured.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until 3) {
      val t0 = if (i == 0) jvmStartMs * 1000000L - System.currentTimeMillis() *
        1000000L + System.nanoTime() else System.nanoTime()
      if (spark != null) spark.stop()
      spark = setupOnce(data, scratch, cores)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ops = workload.ops

    def reset(): Int = {
      graft.core.CacheLedger.release()
      spark.catalog.clearCache()
      val leaked = spark.sparkContext.getPersistentRDDs.values.toSeq
      leaked.foreach(_.unpersist(blocking = true))
      Scratch.clear(scratch)
      leaked.size
    }
    def assertClean(pass: Int): Unit = {
      val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
      require(cm.isEmpty, s"pass $pass starts with a non-empty Spark cache")
      require(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"pass $pass starts with persisted RDDs")
      require(Scratch.isEmpty(scratch), s"pass $pass starts with scratch files")
    }

    def timed(op: Op, pass: Int): (Sample, Array[Row], StructType) = {
      spark.sparkContext.setJobGroup(s"$pass/${op.name}", op.name)
      tracer.foreach(_.begin(op.name, pass))
      val c0 = cpuNanos()
      val t0 = System.nanoTime()
      try {
        val df = op.run(spark, data)
        val tb = System.nanoTime()
        val rows = df.collect()
        val t1 = System.nanoTime()
        val c1 = cpuNanos()
        tracer.foreach(_.end(op.name, df))
        (Sample(op.name, (tb - t0) / 1e9, (t1 - t0) / 1e9, (c1 - c0) / 1e9,
          rows.length, Fingerprint.of(rows), ""), rows, df.schema)
      } catch {
        case e: Throwable =>
          val t1 = System.nanoTime()
          val c1 = cpuNanos()
          tracer.foreach(_.end(op.name, null))
          (Sample(op.name, 0.0, (t1 - t0) / 1e9, (c1 - c0) / 1e9, 0, "",
            String.valueOf(e).take(300)), Array.empty[Row], null)
      } finally spark.sparkContext.clearJobGroup()
    }

    /** One pass over the workload's ops; the cold pass also dumps results.
      * A pass's wall and CPU time are the sums over its timed calls, so the
      * fingerprints and result dumps between calls are not counted. */
    def serialPass(pass: Int, dump: Boolean): PassResult = {
      assertClean(pass)
      tracer.foreach(_.startPass(pass))
      val samples = ops.map { op =>
        val (s, rows, schema) = timed(op, pass)
        if (dump && s.error.isEmpty) dumpResult(spark, out, op.name, rows, schema)
        s
      }
      val wall = samples.map(_.totalS).sum
      val cpu = samples.map(_.cpuS).sum
      tracer.foreach(_.endPass(pass))
      val leaked = reset()
      if (leaked > 0) System.err.println(s"[perfbench] pass $pass left $leaked persisted RDDs")
      PassResult(pass, wall, cpu, samples)
    }

    reset()
    val cold = serialPass(0, dump = true)
    val warm = ArrayBuffer.empty[PassResult]
    val measureStart = System.nanoTime()
    // At least three warm passes: the first warm pass still carries JIT
    // compilation, and the median of three is the middle one.
    while (warm.size < 3 || (System.nanoTime() - measureStart) / 1e9 < seconds)
      warm += serialPass(warm.size + 1, dump = false)

    val trace = tracer.map(t =>
      t.report(warm.toSeq, cores, Splits.run(spark, data, cold.samples, t)))
    val host = Seq(
      "nproc" -> cores.toString,
      "mem_bytes" -> ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        .getTotalMemorySize.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "jdk" -> Json.str(sys.props("java.version")),
      "spark" -> Json.str(spark.version))
    val oracle = ops.flatMap(o => Catalog.byName.get(o.name).flatMap(_.oracle)
      .map(sql => o.name -> Json.str(sql.stripMargin.trim))) ++
      Workloads.ownOracles.filter(kv => ops.exists(_.name == kv._1))
        .map { case (k, v) => k -> Json.str(v) }
    val doc = Json.obj(Seq(
      "workload" -> Json.str(workload.name),
      "seed" -> opt("seed"),
      "host" -> Json.obj(host),
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "cold" -> passJson(cold),
      "warm" -> Json.arr(warm.map(passJson)),
      "oracle_sql" -> Json.obj(oracle),
      "rows_only" -> Json.arr(ops.map(_.name).filterNot(n => oracle.exists(_._1 == n))
        .map(Json.str))) ++ trace.map("trace" -> _))
    Files.writeString(Paths.get(out.getPath, "run.json"), doc)
    spark.stop()
  }

  def passJson(p: PassResult): String = Json.obj(Seq(
    "pass" -> p.pass.toString, "wall_s" -> Json.num(p.wallS),
    "cpu_s" -> Json.num(p.cpuS),
    "ops" -> Json.arr(p.samples.map(s => Json.obj(Seq(
      "op" -> Json.str(s.op),
      "build_s" -> Json.num(s.buildS),
      "s" -> Json.num(s.totalS), "cpu_s" -> Json.num(s.cpuS), "rows" -> s.rows.toString,
      "fingerprint" -> Json.str(s.fingerprint), "error" -> Json.str(s.error)))))))

  /** Session, function registration, first touch of every input table and
    * a small warm-up job: everything a fresh process pays before its first
    * op. The timestamp columns are read the same way the engine reads them. */
  def setupOnce(data: String, scratch: File, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(scratch.getParentFile, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(scratch.getParentFile, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    graft.core.Tables.names.foreach { n =>
      val df = if (n == "events") graft.core.Tables.events(spark, data)
        else graft.core.Tables.load(spark, data, n)
      df.count()
    }
    warmUp(spark, new File(scratch.getParentFile, "warmup"), cores)
    spark
  }

  /** Generic Spark work on synthetic rows — parquet write and read, shuffle
    * join, aggregation, window, sort, arrays and strings — so the JIT has
    * seen Spark's common paths before the first pass. It runs none of the
    * engine's ops: every op's own first-run cost stays in the cold pass. */
  def warmUp(spark: SparkSession, dir: File, cores: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rows = spark.range(0, 200000, 1, cores).select(col("id"),
      (col("id") % 97).as("k"), concat(lit("row "), col("id").cast("string")).as("s"),
      (col("id") * 1.5).as("v"))
    rows.write.mode("overwrite").parquet(dir.getPath)
    val t = spark.read.parquet(dir.getPath)
    val agg = t.groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("n"), max("s").as("ms"))
    t.join(agg, "k")
      .withColumn("r", row_number().over(Window.partitionBy("k").orderBy(col("id").desc)))
      .filter(col("r") <= 3)
      .select(col("k"), explode(split(upper(col("s")), " ")).as("w"), col("sv"))
      .orderBy("k", "w").collect()
  }

  /** Cold-pass result → parquet, for the oracle comparison in run.py. */
  def dumpResult(spark: SparkSession, out: File, name: String, rows: Array[Row],
      schema: StructType): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(new File(new File(out, "results"), name).getPath)
  }
}

/** The ops' scratch files live under java.io.tmpdir (the engine's
  * `Sources.scratchDir` and streaming checkpoints); a pass starts with it
  * empty so no op can reuse a file an earlier pass minted. */
object Scratch {
  def clear(dir: File): Unit = Option(dir.listFiles).toSeq.flatten.foreach(delete)
  def isEmpty(dir: File): Boolean = Option(dir.listFiles).forall(_.isEmpty)
  private def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }
}

/** Order-insensitive digest of a result: sorted row renderings, SHA-256. */
object Fingerprint {
  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ", ", "]")
}
