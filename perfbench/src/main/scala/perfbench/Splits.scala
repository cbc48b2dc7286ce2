package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{FkFilter, Tables, Upsert}

/** Staged splits of fused catalog ops, for the traced run only.
  *
  * Each split calls the same public functions with the same arguments as
  * the catalog op, materializes to scratch between stages so each stage is
  * timed alone, and checks that its final fingerprint equals the catalog
  * op's cold-pass fingerprint, so the split cannot drift from what is timed.
  * The expressions copied from the catalog builders are marked; if a builder
  * changes and its copy here does not, the fingerprint check fails.
  */
object Splits {
  def run(spark: SparkSession, data: String, cold: Seq[Main.Sample],
      t: Tracer): Seq[(String, String)] = {
    val fp = cold.map(s => s.op -> s.fingerprint).toMap
    val scratch = new File(sys.props("java.io.tmpdir"), "perfbench_splits")
    def stage(name: String, df: DataFrame): DataFrame = t.span(name) {
      val p = new File(scratch, name).getPath
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    def verdict(op: String, rows: Array[org.apache.spark.sql.Row],
        extra: Seq[(String, String)]): (String, String) = {
      val got = Fingerprint.of(rows)
      op -> Json.obj(Seq("fingerprint_matches" -> (got == fp(op)).toString) ++ extra)
    }
    val out = Seq.newBuilder[(String, String)]
    if (fp.contains("pipe_fill_db_daily")) out += fillDbDaily(spark, data, scratch, t,
      stage, verdict)
    if (fp.contains("dedup_embedding_cosine")) {
      out += embeddingCosine(spark, data, t, stage, verdict)
      out ++= functionRates(spark, data, t)
    }
    Scratch.clear(scratch)
    out.result()
  }

  type Stage = (String, DataFrame) => DataFrame
  type Verdict = (String, Array[org.apache.spark.sql.Row], Seq[(String, String)]) =>
    (String, String)

  /** pipe_fill_db_daily = bronze -> FK filter -> two upserts -> gold. */
  def fillDbDaily(s: SparkSession, dir: String, scratch: File, t: Tracer,
      stage: Stage, verdict: Verdict): (String, String) = t.span("split.pipe_fill_db_daily") {
    val tbl = new File(scratch, "fill_db_daily_tbl").getPath
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    val key = col("o_orderkey")
    // Copied from the catalog builder: the bronze_orders report shape.
    val raw = o.select(
      key.cast("string").as("Bestellnummer"),
      (key % 2000 + 40000 + 0.5).cast("string").as("Erstellt"),
      when(key % 7 === 0, lit(null).cast("string"))
        .otherwise(concat(col("o_custkey").cast("string"), lit(".0")))
        .as("Kundennummer"),
      when(key % 3 === 0, "JA").when(key % 3 === 1, "ja")
        .otherwise("nein").as("ist gültig?"),
      when(key % 4 === 0, "BEZAHLT").when(key % 4 === 1, "bezahlt")
        .otherwise("offen").as("Bezahlstatus"),
      when(key % 2 === 0, "online").otherwise("kasse").as("Herkunft"))
    val mapping = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("gomus_id"),
        (col("c_custkey") * 2 + 1).cast("long").as("customer_id"))
    val normalized = stage("bronze", graft.bronze.Gomus.extractOrders(raw, mapping))
    val ref = c.filter(col("c_custkey") % 4 === 0)
      .select((col("c_custkey") * 2 + 1).cast("long").as("customer_id"))
    var dropped = 0L
    val filtered = stage("core.fk_filter", FkFilter.filter(normalized, Seq(
      FkFilter.Fk(Seq("customer_id"), "customer", ref, Seq("customer_id"))),
      d => dropped += d.nDropped))
    val nIn = normalized.count()
    t.span("core.upsert") {
      Upsert.upsertWrite(s, tbl, filtered.filter(col("order_id") % 2 === 0)
        .withColumn("origin", lit("legacy")), Seq("order_id"))
      Upsert.upsertWrite(s, tbl, filtered.filter(col("order_id") % 3 === 0),
        Seq("order_id"))
    }
    val files = Option(new File(tbl).listFiles).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val rows = t.span("gold") {
      s.read.parquet(tbl).groupBy("origin")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("paid"), 1L).otherwise(0L)).as("n_paid"),
          countDistinct(col("customer_id")).as("n_customers"),
          max(date_format(col("order_date"), "yyyy-MM-dd")).as("max_day"))
        .orderBy("origin").collect()
    }
    verdict("pipe_fill_db_daily", rows, Seq(
      "core.fk_filter.kept_ratio" -> Json.num(1.0 - dropped.toDouble / nIn),
      "core.upsert.files_written" -> files.size.toString,
      "core.upsert.bytes_written" -> files.map(_.length).sum.toString))
  }

  // Copied from the catalog: distinct word 3-shingles of lower(text), the
  // input of the text kernels measured below.
  private def shingles3: Column = {
    val tk = split(lower(col("text")), "\\s+")
    array_distinct(
      when(size(tk) >= 3,
        transform(sequence(lit(1), size(tk) - 2),
          i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1),
            element_at(tk, i + 2))))
        .otherwise(array().cast("array<string>")))
  }

  /** dedup_embedding_cosine = band_keys_f (functions) -> TopK.pairsPerKey
    * (plans) -> cosine_ff verify (functions). */
  def embeddingCosine(s: SparkSession, dir: String, t: Tracer, stage: Stage,
      verdict: Verdict): (String, String) = t.span("split.dedup_embedding_cosine") {
    val v = Tables.parallelize(Tables.load(s, dir, "embeddings"))
      .select(col("vec_id"), col("embedding").as("vv"))
    val banded = stage("functions.band_keys",
      v.select(col("vec_id"), posexplode(expr("band_keys_f(vv)")).as(Seq("bd", "bkey"))))
    val nIn = banded.count()
    val cand = stage("plans.topk", graft.plans.TopK.pairsPerKey(banded, Seq("bd", "bkey"),
        Seq(("vec_id", true)), Seq("vec_id"), 32)
      .select(col("x_vec_id").as("left_id"), col("y_vec_id").as("right_id"))
      .distinct())
    val nOut = cand.count()
    val rows = t.span("functions.cosine_verify") {
      cand.join(v.select(col("vec_id").as("lid"), col("vv").as("va")),
          col("left_id") === col("lid"))
        .join(v.select(col("vec_id").as("rid"), col("vv").as("vb")),
          col("right_id") === col("rid"))
        .withColumn("cosine", expr("cosine_ff(va, vb)"))
        .filter(col("cosine") >= 0.4)
        .select(col("left_id"), col("right_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy("left_id", "right_id").collect()
    }
    verdict("dedup_embedding_cosine", rows, Seq(
      "plans.topk.rows_in" -> nIn.toString, "plans.topk.rows_out" -> nOut.toString))
  }

  /** functions.<fn>.rows_per_s: each native function alone over a cached
    * column, the workload's rows repeated 20 times so the kernel, not job
    * overhead, dominates (median of three timed scans). */
  def functionRates(s: SparkSession, dir: String, t: Tracer): Seq[(String, String)] = {
    val copies = s.range(20).toDF("copy")
    val d = Tables.parallelize(Tables.load(s, dir, "documents").crossJoin(copies))
      .select(shingles3.as("sh")).withColumn("sig", expr("minhash_sig(sh, 12)"))
      .withColumn("sh2", array_remove(col("sh"), element_at(col("sh"), 1)))
      .cache()
    val e = Tables.parallelize(Tables.load(s, dir, "embeddings").crossJoin(copies))
      .select(col("embedding").as("vv"), reverse(col("embedding")).as("vw")).cache()
    val n = Map("d" -> d.count(), "e" -> e.count())
    val fns = Seq(
      ("minhash_sig", d, "d", "minhash_sig(sh, 12)"),
      ("simhash32", d, "d", "simhash32(sh)"),
      ("jaccard_sim", d, "d", "jaccard_sim(sh, sh2)"),
      ("winnow_min4", d, "d", "winnow_min4(sig)"),
      ("band_keys_f", e, "e", "band_keys_f(vv)"),
      ("cosine_ff", e, "e", "cosine_ff(vv, vw)"))
    val res = fns.map { case (fn, df, k, call) =>
      val times = (0 until 3).map { _ =>
        t.span(s"functions.$fn.rate") {
          val t0 = System.nanoTime()
          df.select(xxhash64(expr(call)).as("h")).agg(bit_xor(col("h"))).collect()
          (System.nanoTime() - t0) / 1e9
        }
      }
      s"functions.$fn" -> Json.obj(Seq(
        "rows_per_s" -> Json.num(n(k) / Stats.median(times)), "rows" -> n(k).toString))
    }
    d.unpersist(true); e.unpersist(true)
    res
  }
}
