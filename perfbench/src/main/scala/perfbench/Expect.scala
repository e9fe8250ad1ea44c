package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The generator's expected results for one input: `meta.json` scalars and
  * little-endian arrays under `expect/`. */
final class Expect(dir: String) {
  val meta: JValue = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(dir, "meta.json")), "UTF-8"))

  def long(key: String): Long = meta \ key match {
    case JInt(v) => v.toLong
    case JLong(v) => v
    case other => sys.error(s"meta.json: $key is $other")
  }

  private def bytes(name: String): ByteBuffer =
    ByteBuffer.wrap(Files.readAllBytes(Paths.get(dir, "expect", name))).order(ByteOrder.LITTLE_ENDIAN)

  def longs(name: String): Array[Long] = {
    val b = bytes(name).asLongBuffer()
    val a = new Array[Long](b.remaining()); b.get(a); a
  }

  def doubles(name: String): Array[Double] = {
    val b = bytes(name).asDoubleBuffer()
    val a = new Array[Double](b.remaining()); b.get(a); a
  }
}

object Check {
  /** `actual` (key, value) rows against expected keys (ascending) and values. */
  def sameLongs(what: String, actual: Array[(Long, Long)], keys: Array[Long], values: Array[Long]): Seq[String] = {
    val a = actual.sortBy(_._1)
    if (a.length != keys.length) return Seq(s"$what: ${a.length} rows, expected ${keys.length}")
    val bad = a.indices.iterator.filter(i => a(i)._1 != keys(i) || a(i)._2 != values(i))
    bad.take(3).map(i => s"$what: row (${a(i)._1}, ${a(i)._2}), expected (${keys(i)}, ${values(i)})").toSeq
  }

  /** Union-find over `pairs`; every vertex labelled with its component's smallest id. */
  def minLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  def shingles(text: String, k: Int): Set[String] =
    (0 to text.length - k).iterator.map(i => text.substring(i, i + k)).toSet

  def jaccard(a: String, b: String, k: Int): Double = {
    val (sa, sb) = (shingles(a, k), shingles(b, k))
    (sa intersect sb).size.toDouble / (sa union sb).size
  }
}
