package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions._

/** The fused Catalyst kernels, each timed alone: the kernel over the
  * workload's own column, from a cached copy replicated to a measurable
  * row count, into the `noop` sink. Only the traced run times them. */
object Kernels {
  /** A kernel's input table and the query that applies it. */
  type Probe = (String, DataFrame => DataFrame)

  /** Each input is replicated to at least this many rows. */
  private val TargetRows = 30000L
  private val Reps = 3

  private def sel(c: => Column): DataFrame => DataFrame = _.select(c.as("k"))

  /** The tf-idf arm's input shape: distinct tokens as (m, t, w) structs,
    * sorted by m descending. */
  private def weighted(text: Column): Column = sort_array(transform(
    array_distinct(split(text, " ")), t => struct(
      (xxhash64(t).bitwiseAND(lit(0xFFFFFFL)).cast("double") / lit(16777216.0)).as("m"),
      t.as("t"), lit(1L).as("w"))), asc = false)

  private val centroids: Array[Array[Double]] =
    Array.tabulate(16, LlmGen.Dim)((i, j) => math.sin(i * 31.0 + j))

  /** Every kernel, over the dedup corpus. */
  val All: Map[String, Probe] = Map(
    "MinHashSig" -> ("documents", sel(MinHashSig(lower(col("text")), 3, 16))),
    "GramHashes" -> ("documents", sel(GramHashes(col("text"), 8))),
    "CharOccToks" -> ("documents", sel(CharOccToks(col("text")))),
    "CharGramBuckets" -> ("documents",
      sel(CharGramBuckets(lower(col("text")), 3, 64))),
    "SimHash60" -> ("documents", sel(SimHash60(lower(col("text"))))),
    "PrefixMergeDot" -> ("documents", sel(PrefixMergeDot(
      weighted(col("text")), weighted(col("text")), lit(1), lit(1)))),
    "BottomK" -> ("documents", _.groupBy((col("doc_id") % 64).as("g"))
      .agg(BottomK.bottomK(xxhash64(col("text")), 16).as("k"))),
    "DotProduct" -> ("embeddings",
      sel(DotProduct(col("embedding"), col("embedding")))),
    "NearestCentroid" -> ("embeddings",
      sel(NearestCentroid(col("embedding"), centroids))),
    "JaroWinkler" -> ("names", sel(JaroWinkler(col("name"), reverse(col("name"))))))

  /** ns per input row of each kernel in `probes`: the median of three
    * timings, less the median of three plain scans of the same cached
    * input, so what remains is the kernel's own cost. */
  def time(ctx: Ctx, srcDir: String, probes: Map[String, Probe]): Map[String, Double] = {
    def median3(what: String)(q: => DataFrame): Double =
      Stats.median((1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        ctx.op(what)(q.write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0).toDouble
      })
    val tables = probes.values.map(_._1).toSeq.distinct.map { t =>
      val in = Tables.load(ctx.spark, srcDir, t)
      val replicas = math.max(1L, TargetRows / math.max(1L, in.count()))
      val rep = in
        .withColumn("__rep", explode(sequence(lit(1L), lit(replicas))))
        .drop("__rep").repartition(Main.Cores).cache()
      val n = rep.count()
      t -> (rep, n, median3(s"scan $t")(rep))
    }.toMap
    val out = probes.map { case (k, (t, query)) =>
      val (df, n, scan) = tables(t)
      k -> math.max(0.0, median3(s"kernel $k")(query(df)) - scan) / n
    }
    tables.values.foreach(_._1.unpersist(blocking = true))
    out
  }
}
