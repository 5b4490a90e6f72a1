package graftbench

import org.apache.spark.sql.{Row, SparkSession, DataFrame}
import org.apache.spark.sql.types._

/** LLM-data curation lanes over a generated corpus: exact dedup, MinHash
  * LSH near-dup, quality scoring, token counting, binary metadata and
  * brute-force kNN, each checked against a plain-Scala reference.
  */
object CorpusCuration {
  val Docs = 8000
  val Vecs = 8000
  val WarmDocs = 1000
  val Dim = 64
  val ExactRate = 0.03
  val NearRate = 0.05

  /** lane → the layer name its time is reported under */
  val Lanes: Seq[(String, String)] = Seq(
    "d01_exact_dedup" -> "ops.dedup.exact",
    "d03_minhash_lsh" -> "ops.dedup.minhash",
    "t02_quality" -> "ops.text.quality",
    "t03_token_count" -> "ops.text.tokens",
    "m01_binary_meta" -> "ops.multimodal.meta",
    "v01_knn_brute" -> "ops.similarity.knn")

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))
  private val VecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("label", IntegerType, nullable = false)))

  final case class Input(c: Corpus, dir: String, dedup: Map[String, (Long, Long)],
      tokens: Map[String, (Long, Long, Long)], meta: Map[String, (Long, Long, Long)],
      knn: Seq[(Long, Double)])
  private var main: Input = _
  private var warm: Input = _
  private var lanes: Seq[(String, String, (SparkSession, String) => DataFrame)] = _

  private def input(ctx: Ctx, tag: String, c: Corpus): Input = {
    val dir = ctx.lake(tag)
    val files = ctx.cores
    ctx.writeTable(dir, "documents", c, c.n, files, DocSchema) { (c, i) =>
      Row(c.docId(i), c.text(i), c.lang(i), c.source(i), c.text(i).length.toLong)
    }
    ctx.writeTable(dir, "embeddings", c, c.vecId.length, files, VecSchema) { (c, i) =>
      Row(c.vecId(i), c.emb(i).toSeq, c.label(i))
    }
    Input(c, dir, Reference.exactDedup(c), Reference.tokenCounts(c),
      Reference.binaryMeta(c), Reference.knn(c, 10))
  }

  def generate(ctx: Ctx): Unit = {
    main = input(ctx, "main", Corpus.gen(ctx.seed, Docs, Vecs, Dim, ExactRate, NearRate))
    warm = input(ctx, "warm", Corpus.gen(ctx.seed + 1, WarmDocs, WarmDocs, Dim, ExactRate, NearRate))
    val c = main.c
    ctx.props ++= Seq("docs" -> c.n, "vectors" -> c.vecId.length, "dim" -> Dim,
      "exact_dup_rate" -> c.exactCopies.length.toDouble / c.n,
      "near_dup_rate" -> c.nearPairs.length.toDouble / c.n,
      "mean_chars" -> c.text.map(_.length.toLong).sum.toDouble / c.n)
  }

  def docs: Int = main.c.n

  /** The curation lane calls over the main or the warm-up lake, and
    * the verification of their results.
    */
  def calls(ctx: Ctx, warmUp: Boolean): (Seq[() => (String, Array[Row])], Map[String, Array[Row]] => Unit) = {
    val in = if (warmUp) warm else main
    (lanes.map { case (lane, layer, q) => () => lane -> ctx.call(layer)(q(ctx.spark, in.dir)) },
      out => verify(ctx, in, out))
  }

  private def verify(ctx: Ctx, in: Input, out: Map[String, Array[Row]]): Unit = {
    val c = in.c
    val d01 = out("d01_exact_dedup").map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    ctx.check("d01_vs_reference", d01 == in.dedup, s"${d01.size} groups vs ${in.dedup.size}")

    val pairs = out("d03_minhash_lsh").map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = c.nearPairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val recall = planted.count(pairs.contains).toDouble / math.max(1, planted.length)
    ctx.check("d03_recall", recall >= 0.9, s"recall $recall")
    ctx.check("d03_pairs_ordered", out("d03_minhash_lsh").forall(r =>
      r.getLong(0) < r.getLong(1) && r.getDouble(2) >= 0.7))
    ctx.accuracy = recall

    val t02 = out("t02_quality")
    val t02ok = t02.length == c.n && t02.forall { r =>
      val (len, n, stop, punct, score) = Reference.quality(c.text(r.getLong(0).toInt))
      r.getInt(1) == len && r.getInt(2) == n && r.getInt(3) == stop &&
        r.getInt(4) == punct && Reference.near(r.getDouble(5), score, 1e-4)
    }
    ctx.check("t02_vs_reference", t02ok)

    val t03 = out("t03_token_count").map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    ctx.check("t03_vs_reference", t03 == in.tokens, s"$t03 vs ${in.tokens}")

    val m01 = out("m01_binary_meta").map(r =>
      r.getString(0) -> (r.getLong(2), r.getLong(3), r.getInt(4).toLong)).toMap
    ctx.check("m01_vs_reference", m01 == in.meta, s"$m01 vs ${in.meta}")

    val v01 = out("v01_knn_brute").map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val tenth = in.knn.last._2
    val v01ok = v01.length == in.knn.length && v01.forall { case (id, cos) =>
      cos >= tenth - 1e-6 && Reference.near(cos,
        Reference.knn1(c, id), 1e-6)
    }
    ctx.check("v01_vs_brute_force", v01ok, s"$v01 vs ${in.knn}")
  }

  def setup(ctx: Ctx): Unit = {
    val qs = graft.SparkEntry.queries
    lanes = Lanes.map { case (lane, layer) => (lane, layer, qs(lane)) }
  }
}
