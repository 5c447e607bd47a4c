package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.llm.{Dedup, Similarity, TextAnalysis}
import graft.operators.JaroWinklerJoin

/** The batch half of the LLM pipeline: a read-only corpus pipeline of text
  * filter, MinHash clusters, two exact pair joins (Jaccard and tf-idf),
  * semantic dedup, IVF top-k, and a Jaro-Winkler name join. Nothing is
  * written to a table. */
final class LlmDedup(seed: Long) {
  import LlmDedup._
  private val gen = LlmGen(seed)
  private var spark: SparkSession = _
  private var src = ""
  /** The IVF model, trained in set-up and shared with the stream. */
  var centroids: Array[Array[Double]] = _
  def digest: String = gen.digest

  private def load(name: String, r: Recorder): DataFrame =
    r.span("sources.load")(Tables.load(spark, src, name))

  /** Writes the corpus under `srcDir` and trains the IVF model. */
  def setup(ctx: Ctx, srcDir: String): Unit = {
    spark = ctx.spark
    src = srcDir
    val session = ctx.spark
    import session.implicits._
    val copyIds = (gen.exactPairs ++ gen.nearPairs).map(_._2).toSet
    gen.docs.toDF("doc_id", "text").coalesce(1).write
      .parquet(s"$src/documents.parquet")
    gen.docs.filter(d => copyIds(d._1)).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$src/snapshot.parquet")
    spark.createDataFrame(spark.sparkContext.parallelize(gen.vecs.map {
        case (i, v) => Row(i, v.toSeq) }, 1), VecSchema)
      .write.parquet(s"$src/embeddings.parquet")
    gen.names.toDF("name_id", "name").coalesce(1).write
      .parquet(s"$src/names.parquet")
    // the IVF model is trained once, offline, as a deployment would
    centroids = Similarity.ivfTrain(load("embeddings", ctx.rec), "vec_id",
      "embedding", Nlist)
  }

  /** One pass of the whole pipeline. The three stages the checks read
    * collect their small results; every other result goes to `noop`. */
  def pass(ctx: Ctx): Unit = {
    val r = ctx.rec
    val docs = load("documents", r)
    val snap = load("snapshot", r)
    val vecs = load("embeddings", r)
    ctx.op("text_filter")(r.stage("llm.text_filter")(
      TextAnalysis.filterPipeline(docs.select(col("doc_id"),
          TextAnalysis.normalize(col("text")).as("text")), "doc_id", "text",
        langs = Seq("en", "fr", "de", "es"))))
    ctx.op("minhash_clusters")(r.collectStage("llm.minhash_clusters")(
      Dedup.minhashClusters(docs, "doc_id", "text")
        .select(col("doc"), col("rep")))).foreach(rows =>
      clusters = rows.map(r => (r.getLong(0), r.getLong(1))))
    ctx.op("all_pairs_join")(r.collectStage("llm.pair_join")(
      Dedup.allPairsJoin(docs, snap, "doc_id", "text", JaccardMin)
        .select(col("id_a"), col("id_b")))).foreach(rows =>
      pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet)
    ctx.op("tfidf_join")(r.stage("llm.pair_join")(
      Dedup.tfidfJoin(docs, snap, "doc_id", "text", CosineMin)))
    ctx.op("semantic_dedup")(r.collectStage("llm.semantic_dedup")(
      Dedup.semanticDedup(vecs, "vec_id", "embedding", centroids, VecMin)
        .filter(col("kept")).select(col("vec_id")))).foreach(rows =>
      kept = rows.map(_.getLong(0)).toSet)
    ctx.op("ivf_topk")(r.stage("llm.knn")(
      Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") < Queries),
        "vec_id", "embedding", 5, centroids, Nprobe)))
    ctx.op("jaro_winkler_join")(r.stage("operators.fuzzy_join")(
      JaroWinklerJoin.selfJoin(load("names", r), "name_id", "name",
        JwMin)))
  }

  // the last pass's outputs of the three checked stages
  private var pairs = Set.empty[(Long, Long)]
  private var clusters = Array.empty[(Long, Long)]
  private var kept = Set.empty[Long]

  /** Checks the last pass's outputs; a stage that failed left its output
    * empty, so its checks fail too. */
  def check(ctx: Ctx): Unit = {
    val exact = gen.exactPairs.toSet
    ctx.check("every planted exact copy is found by allPairsJoin") {
      val missed = exact -- pairs
      (missed.isEmpty, s"${missed.size} of ${exact.size} missed")
    }
    ctx.check("every planted near copy is found by allPairsJoin") {
      val missed = gen.nearPairs.toSet -- pairs
      (missed.isEmpty, s"${missed.size} of ${gen.nearPairs.size} missed")
    }
    ctx.check("clusters partition the input ids") {
      val ids = clusters.map(_._1)
      val input = gen.docs.map(_._1)
      (ids.length == input.size && ids.toSet == input.toSet,
        s"${ids.length} cluster rows, ${ids.toSet.size} distinct, " +
          s"${input.size} input ids")
    }
    ctx.check("every planted exact copy shares its original's cluster") {
      val rep = clusters.toMap
      val split = exact.count { case (o, c) => rep.get(o) != rep.get(c) }
      (split == 0, s"$split of ${exact.size} split")
    }
    ctx.check("semantic dedup drops every planted exact vector copy") {
      val notDropped = gen.exactVecPairs.count { case (_, c) => kept(c) }
      (notDropped == 0, s"$notDropped of ${gen.exactVecPairs.size} kept")
    }
    if (seed == DefaultSeed) ctx.check("content hash pinned for the default seed") {
      val pairDigest = Gen.digest(pairs.toSeq.sorted.iterator)
      (gen.digest == PinnedInput && pairDigest == PinnedPairs,
        s"inputs ${gen.digest} pairs $pairDigest")
    }
  }

  /** Per-pass medians of each stage, over the traced passes. */
  def layers(passes: Seq[Seq[Span]]): Map[String, Double] = {
    def perPass(name: String): Double =
      Stats.median(passes.map(_.filter(_.name == name).map(_.seconds).sum))
    Map(
      "llm.text_filter_s" -> perPass("llm.text_filter"),
      "llm.minhash_clusters_s" -> perPass("llm.minhash_clusters"),
      "llm.pair_join_s" -> perPass("llm.pair_join"),
      "llm.semantic_dedup_s" -> perPass("llm.semantic_dedup"),
      "llm.knn_s" -> perPass("llm.knn"),
      "operators.fuzzy_join_s" -> perPass("operators.fuzzy_join"),
      "llm.pairs_out" -> pairs.size.toDouble)
  }
}

object LlmDedup {
  val DefaultSeed = 1L
  val Nlist = 8
  val Nprobe = 3
  val Queries = 20
  val JaccardMin = 0.7
  val CosineMin = 0.9
  val VecMin = 0.95
  val JwMin = 0.93
  val VecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))
  /** Digests of the default seed's inputs and of its exact Jaccard pair
    * set: the pair join is exact, so the set is fixed by the inputs. */
  val PinnedInput =
    "f3399f967eab55e686fae3f5892a9b08d8dc40c4bdc858156a862429401b3965"
  val PinnedPairs =
    "1b152d0b492562b975c57357a7ef6fafaa799f696d97cb5fa81f09faac2e3e6a"
}
