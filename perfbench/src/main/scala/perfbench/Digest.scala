package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{array_sort, col, count, lit, map_entries, shiftrightunsigned, sum, xxhash64}
import org.apache.spark.sql.types.{DataType, MapType}

/** Order-independent digest of a result: its row count plus the sums of
  * the high and low 32-bit halves of each row's `xxhash64` over all
  * columns. `xxhash64` hashes a double's bits, so the digest is bit-exact,
  * as `graft.functions.Portable` promises every output is. Summing the
  * halves separately keeps both sums far below `Long.MaxValue` (no ANSI
  * overflow) and makes the digest a multiset hash: row order and
  * partitioning do not change it, a duplicated row does.
  *
  * Computing it is also the benchmark's forcing action: hashing every
  * column means no output column can be pruned away, which a bare
  * `count()` would allow. */
final case class Digest(rows: Long, hi: Long, lo: Long) {
  override def toString: String = s"$rows\t$hi\t$lo"
}

object Digest {
  def of(df: DataFrame): Digest = {
    // positional names: result columns may repeat a name or need quoting
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType)): _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(shiftrightunsigned(col("h"), 32)), sum(col("h").bitwiseAND(0xffffffffL)))
      .head()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  // Spark refuses to hash maps; their sorted entries hash the same content
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** Expected digests, one `name<TAB>rows<TAB>hi<TAB>lo` line per query. */
  def read(path: String): Map[String, Digest] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        require(f.length == 4, s"bad digest line in $path: $l")
        f(0) -> Digest(f(1).toLong, f(2).toLong, f(3).toLong)
      }.toMap

  def write(path: String, header: String, digests: Seq[(String, Digest)]): Unit = {
    val body = digests.sortBy(_._1).map { case (n, d) => s"$n\t$d" }
    Files.write(Paths.get(path), (s"# $header" +: body).asJava, StandardCharsets.UTF_8)
  }
}
