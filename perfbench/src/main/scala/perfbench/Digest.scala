package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import scala.util.hashing.MurmurHash3

/** Order-insensitive result digest: schema hash, the sum of 64-bit row
  * hashes (a multiset digest, so duplicate rows count) and the row count.
  *
  * Rows are hashed on the executors through `df.rdd`, which runs the
  * frame's own physical plan; nothing wraps the query in an aggregate, so
  * Catalyst cannot drop or rewrite any of its operators. */
object Digest {
  def of(df: DataFrame): String = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val (sum, n) = df.rdd.mapPartitions { rows =>
      var s = 0L; var c = 0L
      rows.foreach { r => s += hash64(canon(r)); c += 1 }
      Iterator.single((s, c))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    f"${hash64(schema)}%016x-$sum%016x-$n"
  }

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  /** Canonical text of one value: nested rows, arrays and maps recurse;
    * maps are sorted by key text; timestamps are rendered from the epoch
    * so the JVM's default time zone cannot change a digest. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("{", "\u0001", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("<", "\u0001", ">")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case t: java.sql.Timestamp => s"ts:${Math.floorDiv(t.getTime, 1000L)}.${t.getNanos}"
    case d: java.sql.Date => s"date:${d.toLocalDate}"
    case x => x.toString
  }
}
