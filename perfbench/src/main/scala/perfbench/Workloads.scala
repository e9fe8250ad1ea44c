package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.{Components, GraphCore, Ingest, LabelProp, PageRank, TriangleCount}
import graft.docs.Dedup
import Pass.{expect, keep}

/** A layer's output after [[Pass.keep]]: persisted, with its row count. */
final case class Kept(df: DataFrame, n: Long)

/** The four tables of the graph layer. */
final case class Graph(canonical: Kept, deg: Kept, oriented: Kept, adj: Kept)

/** One benchmark workload: the layer calls of a pass, and their checks. */
abstract class Workload(val input: String, val expected: Expect) {
  /** Layer calls in one pass. */
  def ops: Int
  /** Input rows a pass reads (pairs or turns). */
  def rows: Long = expected.long("rows")
  def pass(p: Pass, spark: SparkSession, scratch: String): Unit
  /** Passes that check fixed inputs once per run; their time is not reported. */
  def fixturePasses(spark: SparkSession, newPass: () => Pass): Unit = ()

  protected def graphCore(p: Pass, raw: DataFrame, edges: Long, maxOutDeg: Option[Long]): Graph =
    p.op("graphcore") {
      val canonical = keep(GraphCore.clean(raw))
      val deg = keep(GraphCore.degrees(canonical.df))
      val oriented = keep(GraphCore.orient(canonical.df, deg.df))
      Graph(canonical, deg, oriented, keep(GraphCore.adjacency(oriented.df)))
    } { g =>
      val maxOut = g.adj.df.agg(max(col("deg"))).head().getLong(0)
      p.counts("graphcore.max_out_deg") = maxOut.toDouble
      expect(g.canonical.n == edges, s"${g.canonical.n} canonical edges, expected $edges") ++
        expect(g.oriented.n == edges, s"${g.oriented.n} oriented edges, expected $edges") ++
        maxOutDeg.toSeq.flatMap(m => expect(maxOut == m, s"max out-degree $maxOut, expected $m"))
    }

  protected def ingestBinary(p: Pass, spark: SparkSession, path: String, pairs: Long): Kept =
    p.op("ingest")(keep(Ingest.edgesFromBinary(spark, path))) { k =>
      p.counts("ingest.edges") = k.n.toDouble
      expect(k.n == pairs, s"read ${k.n} pairs, expected $pairs")
    }

  protected def globalCount(p: Pass, layer: String, spark: SparkSession, g: Graph, expected: Long): Long =
    p.op(layer)(TriangleCount.globalAdjacency(spark, g.oriented.df, g.adj.df).head().getLong(0)) { t =>
      expect(t == expected, s"$t triangles, expected $expected")
    }

  protected def perVertex(p: Pass, g: Graph, v: Array[Long], cnt: Array[Long]): Kept =
    p.op("tri.per_vertex")(keep(TriangleCount.perVertexAdjacency(g.canonical.df, g.oriented.df, g.adj.df))) { k =>
      Check.sameLongs("per-vertex triangles",
        k.df.collect().map(r => (r.getLong(0), r.getLong(1))), v, cnt)
    }
}

/** Power-law pair file: ingest, the CSR build, the broadcast global count and
  * the per-vertex count. Also checks the reference's fixture graphs once. */
final class TriSkewed(input: String, e: Expect) extends Workload(input, e) {
  val ops = 4
  private lazy val v = e.longs("tri_v.i64")
  private lazy val cnt = e.longs("tri_cnt.i64")

  def pass(p: Pass, spark: SparkSession, scratch: String): Unit =
    run(p, spark, s"$input/pairs.bin", e.long("rows"), e.long("edges"), Some(e.long("max_out_deg")),
      e.long("triangles"), v, cnt)

  private def run(p: Pass, spark: SparkSession, path: String, pairs: Long, edges: Long,
                  maxOut: Option[Long], triangles: Long, v: Array[Long], cnt: Array[Long]): Unit = {
    val raw = ingestBinary(p, spark, path, pairs)
    val g = graphCore(p, raw.df, edges, maxOut)
    globalCount(p, "tri.global", spark, g, triangles)
    perVertex(p, g, v, cnt)
  }

  override def fixturePasses(spark: SparkSession, newPass: () => Pass): Unit = {
    val JObject(fixtures) = e.meta \ "fixtures"
    fixtures.foreach { case (name, fx) =>
      val longs = (key: String) => (fx \ key).asInstanceOf[JArray].arr.map {
        case JInt(x) => x.toLong
        case other => sys.error(s"fixture $name: $other")
      }.toArray
      val fv = longs("v")
      val fcnt = longs("cnt")
      val JInt(tri) = fx \ "triangles"
      val JInt(pairs) = fx \ "pairs"
      val JInt(edges) = fx \ "edges"
      val p = newPass()
      try run(p, spark, s"$input/$name.bin", pairs.toLong, edges.toLong, None, tri.toLong, fv, fcnt)
      catch { case _: OpFailed => () }
    }
  }
}

/** Transcripts table: participant edges from the role and tool columns;
  * PageRank to tolerance and LPA over them, both with durable checkpoints,
  * then the parquet sink of ranks and labels; MinHash near-duplicate turns
  * over the text, clustered by components. Checked against the generator's
  * participant graph, power iteration and synchronous LPA, exact Jaccard and
  * union-find. */
final class Transcripts(input: String, e: Expect) extends Workload(input, e) {
  val ops = 6
  private val path = s"$input/transcripts.parquet"
  private val JObject(mh) = e.meta \ "minhash"
  private def mhInt(k: String): Int = mh.collectFirst { case (`k`, JInt(x)) => x.toInt }.get
  private val threshold = mh.collectFirst { case ("threshold", JDouble(x)) => x }.get
  private lazy val planted = e.longs("dup_a.i64").zip(e.longs("dup_b.i64"))
  private lazy val v = e.longs("v.i64")
  private lazy val pr = e.doubles("pr.f64")
  private lazy val lpa = e.longs("lpa.i64")
  // loaded at the first check, outside any timing
  private var texts: Map[Long, String] = null

  private def docs(t: DataFrame): DataFrame =
    t.select((substring(col("conv_id"), 2, 16).cast("long") * 10000L + col("turn_idx")).as("doc_id"),
      col("text"))

  def pass(p: Pass, spark: SparkSession, scratch: String): Unit = {
    val t = Ingest.transcripts(spark, path)
    val edges = p.op("ingest")(keep(Ingest.edgesFromTranscripts(t))) { k =>
      p.counts("ingest.edges") = k.n.toDouble
      val got = k.df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exp = e.longs("edge_u.i64").zip(e.longs("edge_v.i64")).toSet
      expect(got == exp, s"${got.size} edges, expected ${exp.size}; " +
        s"${(got diff exp).size} unexpected, ${(exp diff got).size} missing")
    }
    iterate(p, spark, edges.df, scratch)
    val k = mhInt("k")
    val pairs = p.op("dedup")(keep(Dedup.minhashLshPairs(docs(t), k = k, perms = mhInt("perms"),
      bands = mhInt("bands"), threshold = threshold))) { kept =>
      if (texts == null)
        texts = docs(spark.read.parquet(path)).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val got = kept.df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
      p.counts("dedup.pairs") = got.length.toDouble
      val low = got.iterator.map { case (a, b) => (a, b, Check.jaccard(texts(a), texts(b), k)) }
        .filter(_._3 < threshold).take(3).map { case (a, b, j) => s"pair ($a, $b) has Jaccard $j" }.toSeq
      val found = got.toSet
      val missed = planted.filterNot { case (a, b) => found((math.min(a, b), math.max(a, b))) }
      low ++ expect(missed.isEmpty, s"${missed.length} planted pairs not found, e.g. ${missed.headOption}")
    }
    p.op("components")(keep(Components.run(pairs.df.select(col("a").as("src"), col("b").as("dst"))))) { kept =>
      val got = kept.df.collect().map(r => (r.getLong(0), r.getLong(1)))
      val exp = Check.minLabels(pairs.df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))))
        .toSeq.sortBy(_._1)
      Check.sameLongs("near-duplicate clusters", got, exp.map(_._1).toArray, exp.map(_._2).toArray)
    }
  }

  private def iterate(p: Pass, spark: SparkSession, edges: DataFrame, scratch: String): Unit = {
    val ckpt = s"$scratch/checkpoint"
    val sink = s"$scratch/sink"
    Files.delete(ckpt)
    Files.delete(sink)
    val ranks = p.op("pagerank")(keep(PageRank.run(edges, tol = 1e-6,
      checkpointDir = Some(s"$ckpt/pagerank")))) { k =>
      val got = k.df.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      val sum = got.map(_._2).sum
      if (got.length != v.length) Seq(s"${got.length} ranks, expected ${v.length}")
      else got.indices.filter(i => got(i)._1 != v(i) || math.abs(got(i)._2 - pr(i)) > 1e-6 + 1e-6 * math.abs(pr(i)))
        .take(3).map(i => s"rank of ${got(i)._1} is ${got(i)._2}, expected ${pr(i)}") ++
        expect(math.abs(sum - 1.0) < 1e-6, s"ranks sum to $sum")
    }
    p.counts("pagerank.iters") = Files.manifests(s"$ckpt/pagerank").maxOption.map(_ + 1.0).getOrElse(0.0)
    val labels = p.op("lpa")(keep(LabelProp.run(edges, e.long("lpa_iters").toInt,
      checkpointDir = Some(s"$ckpt/lpa")))) { k =>
      Check.sameLongs("labels", k.df.collect().map(r => (r.getLong(0), r.getLong(1))), v, lpa)
    }
    p.counts("checkpoint.mb") = Files.megabytes(ckpt)
    p.op("sink") {
      ranks.df.write.mode("overwrite").parquet(s"$sink/ranks")
      labels.df.write.mode("overwrite").parquet(s"$sink/labels")
    } { _ =>
      val back = Seq("ranks", "labels").map(t => spark.read.parquet(s"$sink/$t").count())
      expect(back.forall(_ == v.length), s"sink holds $back rows, expected ${v.length} each")
    }
    p.counts("sink.mb") = Files.megabytes(sink)
  }
}

object Workload {
  def apply(name: String, input: String): Workload = {
    val e = new Expect(input)
    name match {
      case "tri_skewed" => new TriSkewed(input, e)
      case "transcripts" => new Transcripts(input, e)
      case other => sys.error(s"unknown workload $other")
    }
  }
}

/** Local file helpers for scratch output. */
object Files {
  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  def megabytes(path: String): Double = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L) else f.length()
    size(new File(path)) / 1048576.0
  }

  /** Iterations certified by checkpoint manifests under `dir`. */
  def manifests(dir: String): Seq[Int] =
    Option(new File(dir).list()).toSeq.flatten.collect {
      case s if s.startsWith("manifest_") && s.endsWith(".json") =>
        s.stripPrefix("manifest_").stripSuffix(".json").toInt
    }
}
