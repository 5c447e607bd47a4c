package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.MinHashSig
import graft.llm.Dedup
import graft.streaming.Events

/** The streaming half of the LLM pipeline: one serial feeder drives
  * micro-batches through the three novelty ingests (MinHash bands,
  * embeddings, exact keys) against indexes built from seed corpora. */
final class NoveltyStream(seed: Long) {
  import NoveltyStream._
  private val gen = new StreamGen(seed)
  private val batches = (0 until MaxBatches).map(gen.batch)
  private var spark: SparkSession = _
  private var src = ""
  private var warehouse = ""
  /** Batches ingested so far. */
  var ran = 0

  private def vecDf(rows: Seq[(Long, Array[Float])], batch: Seq[Int]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zip(batch).map { case ((i, v), b) => Row(i, v.toSeq, b) }, 1),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("batch", IntegerType))))

  private def bands(df: DataFrame): DataFrame =
    df.select(Dedup.minhashBandArray(
      MinHashSig(lower(col("text")), 3, 16), 16, 4).as("b"))

  private def load(name: String): DataFrame = Tables.load(spark, src, name)

  private var cents: Array[Array[Double]] = _

  /** Writes the seed corpora and every batch under `srcDir` (seed rows
    * carry batch -1); `model` is the IVF model of the embedding index. */
  def setup(ctx: Ctx, srcDir: String, model: Array[Array[Double]]): Unit = {
    cents = model
    spark = ctx.spark
    src = srcDir
    warehouse = s"${ctx.dir}/warehouse"
    val session = ctx.spark
    import session.implicits._
    (gen.seedDocs.map { case (i, t) => (i, t, -1) } ++ batches.flatMap(b =>
        b.docs.map { case (i, t) => (i, t, b.id) }))
      .toDF("doc_id", "text", "batch").coalesce(1).write
      .parquet(s"$src/documents.parquet")
    vecDf(gen.seedVecs ++ batches.flatMap(_.vecs),
      gen.seedVecs.map(_ => -1) ++ batches.flatMap(b => b.vecs.map(_ => b.id)))
      .write.parquet(s"$src/embeddings.parquet")
    (gen.seedKeys.map { case (i, k) => (i, k, -1) } ++ batches.flatMap(b =>
        b.keys.map { case (i, k) => (i, k, b.id) }))
      .toDF("key_id", "k", "batch").coalesce(1).write
      .parquet(s"$src/keys.parquet")
  }

  /** Builds the three indexes from the seed corpora. */
  def createIndexes(ctx: Ctx): Unit = {
    val seed = (n: String) => load(n).filter(col("batch") === -1)
    ctx.op("create indexes")(ctx.rec.span("stream.create_index") {
      Events.createBandIndex(spark, "idx_mh", bands(seed("documents")), "b")
      Events.createEmbeddingIndex(spark, "idx_emb", seed("embeddings"),
        "embedding", cents)
      Events.createKeyIndex(spark, "idx_key", seed("keys"), "k")
    })
  }

  private def ingest(ctx: Ctx, id: Long, docs: DataFrame, vecs: DataFrame,
                     keys: DataFrame): Unit = {
    val r = ctx.rec
    ctx.op("minhash ingest")(r.span("stream.ingest.minhash")(
      Events.minhashNoveltyIngestBatch(docs.drop("batch"), id,
        s"idx_mh", s"sink_mh")))
    ctx.op("embedding ingest")(r.span("stream.ingest.embedding")(
      Events.embeddingNoveltyIngestBatch(vecs.drop("batch"), id,
        s"idx_emb", s"sink_emb", "embedding", VecMin)))
    ctx.op("key ingest")(r.span("stream.ingest.key")(
      Events.keyNoveltyIngestBatch(keys.drop("batch"), id,
        s"idx_key", s"sink_key", "k")))
  }

  /** Folds the batch partitions of every index and sink table. */
  def compact(ctx: Ctx): Unit =
    ctx.op("compact")(ctx.rec.span("stream.compact")(
      for (s <- Seq("mh", "emb", "key"); t <- Seq("idx", "sink"))
        Events.compactBatchTable(spark, s"${t}_$s")))

  private def batchInputs(i: Int): (DataFrame, DataFrame, DataFrame) =
    (load("documents").filter(col("batch") === i),
      load("embeddings").filter(col("batch") === i),
      load("keys").filter(col("batch") === i))

  def hasNext: Boolean = ran < MaxBatches

  /** Ingests the next batch; returns its seconds and its rows offered. */
  def next(ctx: Ctx): (Double, Long) = {
    val (d, v, k) = batchInputs(ran)
    val t = System.nanoTime()
    ctx.rec.span("batch", "cycle")(ingest(ctx, ran, d, v, k))
    val dt = (System.nanoTime() - t) / 1e9
    val b = batches(ran)
    ran += 1
    (dt, (b.docs.size + b.vecs.size + b.keys.size).toLong)
  }

  private var novelRatio = 0.0

  /** Bytes of the index and sink tables over bytes of the stream inputs. */
  def storageRatio: Double = {
    val tables = for (s <- Seq("mh", "emb", "key"); t <- Seq("idx", "sink"))
      yield Main.dirBytes(new File(s"$warehouse/${t}_$s"))
    tables.sum.toDouble / Main.dirBytes(new File(src))
  }

  def check(ctx: Ctx): Unit = {
    // per batch and stream: offered = admitted (in the sink) + dropped
    // (not in it); ids are unique across the seed and every batch
    val streams = Seq(("mh", "documents", "doc_id"),
      ("emb", "embeddings", "vec_id"), ("key", "keys", "key_id"))
    var offered, admitted = 0L
    val keyAdmits = mutable.Map.empty[Int, Long]
    for ((s, input, id) <- streams) {
      val in = load(input).filter(col("batch").between(0, ran - 1))
        .select(col(id), col("batch"))
      val sinkIds = spark.table(s"sink_$s").select(col(id).as("sid"),
        lit(1).as("hit")).distinct()
      val per = in.join(sinkIds, col(id) === col("sid"), "left")
        .groupBy(col("batch")).agg(count(lit(1)).as("offered"),
          count(col("hit")).as("admitted"),
          sum(when(col("hit").isNull, 1).otherwise(0)).as("dropped"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val sinkRows = spark.table(s"sink_$s").count()
      ctx.check(s"$s: offered = admitted + dropped in every batch") {
        val bad = per.filter { case (_, o, a, d) => o != a + d }
        val total = per.map(_._3).sum
        (per.length == ran && bad.isEmpty && total == sinkRows,
          s"${per.length} batches, ${bad.length} unbalanced, " +
            s"$total admitted vs $sinkRows sink rows")
      }
      offered += per.map(_._2).sum
      admitted += per.map(_._3).sum
      if (s == "key") per.foreach { case (b, _, a, _) => keyAdmits(b) = a }
    }
    novelRatio = admitted.toDouble / offered
    ctx.check("key admissions equal the generator's closed form") {
      val bad = (0 until ran).filter(i =>
        keyAdmits.getOrElse(i, 0L) != batches(i).keyAdmits)
      (bad.isEmpty, s"batches off: ${bad.take(5).mkString(",")}")
    }
    ctx.check("re-delivering the last batch admits nothing") {
      def sinks() = streams.map { case (s, _, _) => spark.table(s"sink_$s").count() }
      val before = sinks()
      val (d, v, k) = batchInputs(ran - 1)
      ingest(ctx, ran - 1, d, v, k)
      val after = sinks()
      (before == after, s"sink rows $before -> $after")
    }
  }

  /** Per-batch medians over the traced batches, and the index state. */
  def layers(r: Recorder, cs: Seq[Seq[Span]]): Map[String, Double] = {
    def perBatch(name: String, in: Seq[Seq[Span]]): Double =
      if (in.isEmpty) 0.0
      else Stats.median(in.map(_.filter(_.name == name).map(_.seconds).sum))
    val compactions = r.spans.toSeq.filter(_.name == "stream.compact")
    val idx = Seq("idx_mh", "idx_emb", "idx_key")
    def files(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(files).sum
      else if (f.getName.startsWith("part-")) 1L else 0L
    Map(
      "stream.ingest.minhash_s" -> perBatch("stream.ingest.minhash", cs),
      "stream.ingest.embedding_s" -> perBatch("stream.ingest.embedding", cs),
      "stream.ingest.key_s" -> perBatch("stream.ingest.key", cs),
      "stream.jobs_per_batch" ->
        Stats.median(cs.map(c => r.counters(c).jobs.toDouble)),
      "stream.compact_s" ->
        (if (compactions.isEmpty) 0.0 else Stats.median(compactions.map(_.seconds))),
      "stream.index_files" ->
        idx.map(t => files(new File(s"$warehouse/$t"))).sum.toDouble,
      "stream.index_rows" -> idx.map(t => spark.table(t).count()).sum.toDouble,
      "stream.novel_ratio" -> novelRatio)
  }
}

object NoveltyStream {
  val MaxBatches = 8
  val VecMin = 0.95
}
