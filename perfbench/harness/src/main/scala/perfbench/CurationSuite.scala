package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.{CosineSimExpr, LongVecExpr}
import graft.ops.TextAnalysis

/** The curation half of `batch_suite`: a fixed list of registered queries
  * (`SparkEntry.queries`) over seeded `documents` and `embeddings` tables.
  * The cold pass, and one untimed pass after the timed ones, write each
  * full result as parquet for the DuckDB oracle check that run.py makes;
  * the timed warm passes run each result into a no-op sink.
  */
object CurationSuite {
  val Docs = 1000
  val Vecs = 600

  val Queries: Seq[String] = Seq(
    "curation_pipeline",
    "minhash_md5_sigs",
    "decontam_overlap",
    "ann_ivf_anchor_topk",
  )

  /** Codegen kernels the listed queries reach, each driven alone into a
    * no-op sink over a cached input: `text` from documents x 20, or an
    * `embedding` and its micro-unit long vector `q` from embeddings x 50.
    * (name, reads documents, the kernel call)
    */
  val Kernels: Seq[(String, Boolean, () => Column)] = Seq(
    // MarkerCountsExpr, through curation_pipeline's language id
    ("marker_counts", true, () => TextAnalysis.langId(col("text"))),
    // CosineSimExpr and SqDistLongExpr, through ann_ivf_anchor_topk's scoring
    ("cosine_sim", false, () => CosineSimExpr.column(col("embedding"), reverse(col("embedding")))),
    ("longvec_sqdist", false, () => LongVecExpr.sqDist(col("q"), reverse(col("q")))),
  )

  def writeTables(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    Gen.documents(seed, Docs).toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Gen.embeddings(seed + 1, Vecs).toSeq.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** One query timing: registry build (the `fn(spark, dir)` call) and the
    * execution of its full result into a no-op sink, in ns.
    */
  final case class QTime(buildNs: Long, execNs: Long) { def totalNs: Long = buildNs + execNs }

  /** One pass over every listed query; None for a query that threw. With
    * `oracle` each result goes to the parquet directory it names for the
    * query, else into a no-op sink.
    */
  def pass(ctx: Ctx, data: String, label: String, oracle: Option[String => String]): Seq[Option[QTime]] = {
    val tr = ctx.tracer
    Queries.map { name =>
      ctx.res.attempt(s"$label $name") {
        tr.span(s"query.$name") {
          val (df, b) = Stats.time(tr.span("registry.build")(SparkEntry.queries(name)(ctx.spark, data)))
          val w = oracle match {
            case Some(dir) => df.write.mode("overwrite").format("parquet").option("path", dir(name))
            case None => df.write.format("noop").mode("overwrite")
          }
          val (_, e) = Stats.time(tr.span("registry.exec")(w.save()))
          QTime(b, e)
        }
      }
    }
  }

  /** The registry's per-layer metrics from the cold pass and the complete
    * timed passes.
    */
  def registryLayers(res: Result, cold: Seq[QTime], warm: Seq[Seq[QTime]], jobsPerPass: Double): Unit = {
    val perQueryWarm = Queries.indices.map(i => Stats.median(warm.map(p => Stats.millis(p(i).totalNs))))
    res.put("registry.build_s", Stats.median(warm.map(_.map(_.buildNs).sum / 1e9)), "s")
    res.put("registry.exec_s", Stats.median(warm.map(_.map(_.execNs).sum / 1e9)), "s")
    res.put("registry.legs_s", cold.map(_.totalNs).sum / 1e9 - perQueryWarm.sum / 1e3, "s")
    res.put("registry.jobs_per_query", jobsPerPass / Queries.length, "count")
    for ((q, i) <- Queries.zipWithIndex) {
      res.put(s"query.$q.cold_ms", Stats.millis(cold(i).totalNs), "ms")
      res.put(s"query.$q.warm_ms", perQueryWarm(i), "ms")
    }
  }

  def kernels(ctx: Ctx, data: String): Unit = {
    val spark = ctx.spark
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .crossJoin(spark.range(20).toDF("copy"))
      .select(col("text"))
      .cache()
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
      .crossJoin(spark.range(50).toDF("copy"))
      .select(col("embedding"), transform(col("embedding"), x => round(x * 1e6).cast("long")).as("q"))
      .cache()
    val docRows = docs.count().toDouble
    val embRows = emb.count().toDouble
    for ((name, onDocs, kernel) <- Kernels) {
      val (in, n) = if (onDocs) (docs, docRows) else (emb, embRows)
      val s = Stats.median((0 until 3).map { _ =>
        Stats.secs(Stats.time(ctx.tracer.span(s"functions.$name")(
          in.select(kernel().as("out")).write.format("noop").mode("overwrite").save()))._2)
      })
      ctx.res.put(s"functions.$name.rows_per_s", n / s, "1/s")
    }
    docs.unpersist()
    emb.unpersist()
  }
}
