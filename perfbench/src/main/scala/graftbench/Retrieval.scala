package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ops.{Pipeline, Similarity}

/** Seeded retrieval corpus with the shapes of the sf0.1 `documents` and
  * `embeddings` tables the repository's retrieval keys read: 5 000
  * documents of 10–98 tokens (mean 54) over a 31-word vocabulary, and
  * 2 000 unit-length 64-dimensional embeddings in 10 labelled clusters
  * for document ids 0–1 999. Each document belongs to a topic; half its
  * tokens are the topic's words, and its embedding is the topic centre
  * plus Gaussian noise.
  *
  * Query batches follow `c3_ann_batch` and `c43c_hybrid_batch_indexed`:
  * every 17th embedded document (`graft.ann.batchQueryMod`, about 6 %)
  * is a query, its text and embedding the query's; the seed picks the
  * residue. An append is `LexIngestDecade`'s arrival batch, 10 % of the
  * documents (500), of which the sf0.1 embedded share (40 %, 200) carry
  * embeddings. */
final class RetrievalGen(seed: Long) {
  val initialDocs = 5000
  val initialEmbedded = 2000
  val dim = 64
  val topics = 10
  val queryMod = 17
  val appendDocs = 500
  val appendEmbedded = 200
  private val vocabulary = 31
  private val noise = 1.0

  private val centers: Array[Array[Double]] = {
    val r = new Random(seed)
    Array.fill(topics)(unit(Array.fill(dim)(r.nextGaussian())))
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def vector(topic: Int, r: Random): Array[Float] =
    unit(centers(topic).map(c => c + noise * r.nextGaussian() / math.sqrt(dim))).map(_.toFloat)

  /** A topic owns 3 of the first 30 words; word 30 belongs to none. */
  def text(topic: Int, r: Random): String =
    Seq.fill(10 + r.nextInt(89)) {
      "w" + (if (r.nextBoolean()) 3 * topic + r.nextInt(3) else r.nextInt(vocabulary))
    }.mkString(" ")

  /** `n` documents with ids from `firstId`, the first `embedded` of them
    * with an embedding: (id, text, embedding or null). */
  def docs(firstId: Long, n: Int, embedded: Int, r: Random): Seq[(Long, String, Array[Float])] =
    (0 until n).map { i =>
      val topic = r.nextInt(topics)
      (firstId + i, text(topic, r), if (i < embedded) vector(topic, r) else null)
    }
}

/** `retrieval`: ANN batches, hybrid (BM25 + ANN, RRF-fused) batches and
  * appends against one IVF store and one lexical store. One op is one
  * round of the three, in a seeded order. */
final class Retrieval(spark: SparkSession, seed: Long) extends Workload {
  private val gen = new RetrievalGen(seed)
  private var ivfDir = ""
  private var lexDir = ""
  // the live corpus, mirrored on the driver for the query batches, the
  // brute-force recall check and the live-id checks
  private val texts = mutable.HashMap.empty[Long, String]
  private val liveVecIds = mutable.ArrayBuffer.empty[Long]
  private val liveVecs = mutable.ArrayBuffer.empty[Array[Float]]
  private var nextDocId = 0L

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private def docFrame(d: Seq[(Long, String, Array[Float])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(d.map(x => Row(x._1, x._2)): _*), docSchema)
  private def vecFrame(d: Seq[(Long, String, Array[Float])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(d.filter(_._3 != null).map(x => Row(x._1, x._3.toSeq)): _*), vecSchema)

  private def addLive(d: Seq[(Long, String, Array[Float])]): Unit = d.foreach { case (id, t, v) =>
    texts(id) = t
    if (v != null) { liveVecIds += id; liveVecs += v }
  }

  def prepare(dir: String): Unit = {
    val corpus = gen.docs(0L, gen.initialDocs, gen.initialEmbedded, new Random(seed * 31L + 1))
    addLive(corpus)
    nextDocId = gen.initialDocs.toLong
    // the corpus lands as parquet first: the stores build from a table
    docFrame(corpus).write.parquet(s"$dir/documents.parquet")
    vecFrame(corpus).write.parquet(s"$dir/embeddings.parquet")
    ivfDir = s"$dir/ivf"
    lexDir = s"$dir/lex"
    Similarity.buildIvfIndexFrom(spark, spark.read.parquet(s"$dir/embeddings.parquet"), ivfDir)
    Pipeline.fitLexIndex(spark.read.parquet(s"$dir/documents.parquet"), lexDir)
  }

  def inputSizes: Map[String, Any] = Map(
    "initial_docs" -> gen.initialDocs, "initial_embedded" -> gen.initialEmbedded,
    "dim" -> gen.dim, "topics" -> gen.topics, "query_mod" -> gen.queryMod,
    "docs_per_append" -> gen.appendDocs, "embedded_per_append" -> gen.appendEmbedded)

  // one round: the first, cold round compiles the three ops' code paths
  val warmUpOps = 1

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var j = 0
    while (j < a.length) {
      dot += a(j).toDouble * b(j); na += a(j).toDouble * a(j); nb += b(j).toDouble * b(j)
      j += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-10 ids over the live corpus, ranked like the index ranks
    * (similarity rounded to 4 places, ties by id), without the query's own
    * id, which `annIvfBatch` never returns. */
  private def exactTop10(self: Long, q: Array[Float]): Set[Long] =
    liveVecIds.indices.filter(liveVecIds(_) != self).map { j =>
      (BigDecimal(cosine(q, liveVecs(j))).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        liveVecIds(j))
    }.sortBy { case (s, id) => (-s, id) }.take(10).map(_._2).toSet

  /** The batch of a seed-drawn residue: every `queryMod`-th embedded
    * document of the initial corpus, as (id, text, embedding). */
  private def queryBatch(r: Random): Seq[(Long, String, Array[Float])] = {
    val residue = r.nextInt(gen.queryMod)
    (residue until gen.initialEmbedded by gen.queryMod).map { j =>
      val id = liveVecIds(j)
      (id, texts(id), liveVecs(j))
    }
  }

  def op(i: Int, t: Tracer): Op = {
    val r = new Random(seed * 104729L + i)
    val order = r.shuffle(Seq("ann", "hybrid", "append"))
    val fails = Seq.newBuilder[String]
    val facts = mutable.Map.empty[String, Double]
    var resultRows = 0L
    def perQuery(rows: Array[Row], qids: Set[Long], live: Long => Boolean, what: String): Unit =
      rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
        if (!qids(q)) fails += s"round $i: $what returned unknown query id $q"
        if (rs.length > 10) fails += s"round $i: $what returned ${rs.length} rows for query $q"
        rs.map(_.getLong(1)).filterNot(live).headOption
          .foreach(id => fails += s"round $i: $what returned id $id, which is not live")
      }
    val parts = order.map {
      case "ann" =>
        val qs = queryBatch(r)
        val qdf = vecFrame(qs)
        val (rows, s) = Workload.time {
          t.span("similarity.ann") {
            val df = t.span("similarity.ann.construct")(Similarity.annIvfBatch(spark, ivfDir, qdf, 10))
            t.span("similarity.ann.plan")(df.queryExecution.executedPlan)
            t.span("similarity.ann.exec")(df.collect())
          }
        }
        resultRows += rows.length
        val vecSet = liveVecIds.toSet
        perQuery(rows, qs.map(_._1).toSet, vecSet, "ANN")
        val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        val recall = qs.map { case (q, _, v) =>
          val exact = exactTop10(q, v)
          got.getOrElse(q, Set.empty[Long]).count(exact).toDouble / exact.size
        }
        facts("recall_at_10") = recall.sum / recall.size
        if (facts("recall_at_10") < Retrieval.RecallFloor)
          fails += f"round $i: ANN recall@10 ${facts("recall_at_10")}%.4f is below the floor " +
            s"${Retrieval.RecallFloor}"
        "ann" -> s
      case "hybrid" =>
        val qs = queryBatch(r)
        val (qDocs, qVecs) = (docFrame(qs), vecFrame(qs))
        val (rows, s) = Workload.time {
          t.span("pipeline.hybrid") {
            val df = t.span("pipeline.hybrid.construct")(
              Pipeline.hybridScoreIndexed(spark, lexDir, ivfDir, qDocs, qVecs))
            t.span("pipeline.hybrid.plan")(df.queryExecution.executedPlan)
            t.span("pipeline.hybrid.exec")(df.collect())
          }
        }
        resultRows += rows.length
        perQuery(rows, qs.map(_._1).toSet, texts.contains, "hybrid")
        if (rows.isEmpty) fails += s"round $i: hybrid returned no rows"
        "hybrid" -> s
      case "append" =>
        val batch = gen.docs(nextDocId, gen.appendDocs, gen.appendEmbedded, r)
        val (docs, vecs) = (docFrame(batch), vecFrame(batch))
        val tag = s"op$i"
        val (_, s) = Workload.time {
          t.span("retrieval.append") {
            t.span("pipeline.lex_append")(Pipeline.appendLexIndex(spark, lexDir, docs, Some(tag)))
            t.span("similarity.append")(Similarity.appendToIvfIndex(spark, ivfDir, vecs, Some(tag)))
          }
        }
        nextDocId += gen.appendDocs
        addLive(batch)
        val (ivfBytes, ivfFiles) = Workload.filesUnder(ivfDir, ".parquet")
        val (lexBytes, lexFiles) = Workload.filesUnder(lexDir, ".parquet")
        facts("ivf_files") = ivfFiles.toDouble
        facts("ivf_bytes_per_vector") = ivfBytes.toDouble / liveVecIds.size
        facts("lex_files") = lexFiles.toDouble
        facts("lex_bytes") = lexBytes.toDouble
        facts("store_bytes_per_doc") = (ivfBytes + lexBytes).toDouble / texts.size
        "append" -> s
    }.toMap
    facts("result_rows") = resultRows.toDouble
    Op(i, t.on, parts.values.sum, parts, facts.toMap, fails.result())
  }

  def summary(ops: Seq[Op]): Summary = {
    val prefix = Main.countPrefix(ops)
    def med(f: String) = if (prefix.isEmpty) 0.0 else Stats.median(prefix.map(_.facts(f)))
    def p50(part: String) = if (ops.isEmpty) 0.0 else Stats.median(ops.map(_.parts(part)))
    def tail(part: String) = if (ops.isEmpty) 0.0 else Stats.tail(ops.map(_.parts(part)))
    Summary(
      storeBytesPerRow = med("store_bytes_per_doc"),
      quality = med("recall_at_10"),
      record = Map(
        "recall_at_10" -> med("recall_at_10"), "live_docs_at_end" -> texts.size,
        "live_vectors_at_end" -> liveVecIds.size,
        "ann_s_p50" -> p50("ann"), "ann_s_tail" -> tail("ann"),
        "hybrid_s_p50" -> p50("hybrid"), "hybrid_s_tail" -> tail("hybrid"),
        "append_s_p50" -> p50("append"), "append_s_tail" -> tail("append")))
  }
}

object Retrieval {
  /** Lowest acceptable recall@10 of one ANN batch: one neighbour in ten
    * below the lowest batch recall of the runs that accepted this
    * benchmark (1.0 in every batch). */
  val RecallFloor = 0.9
}
