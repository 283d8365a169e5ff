package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** An order-insensitive signature of a query's output, computed by one
  * aggregate job outside the timed region.
  *
  * Every column that is not a top-level float or double goes into one
  * 64-bit row hash (columns in name order); the signature keeps the row
  * count and the sum of those hashes, so it is blind to row order but not
  * to duplicates. Float and double columns are kept as (sum, non-null
  * count) per column and compared within a relative 1e-9: a sum of doubles
  * depends on the order the partitions are added in, which changes with
  * the core count, so bit-exact hashes of those columns would not repeat
  * across hosts. A column that holds a map anywhere is hashed through its
  * JSON form, since Spark's hashes reject maps.
  */
object Checksum {

  final case class Sig(rows: Long, hash: String, floats: Seq[(String, Double, Long)]) {
    def line(name: String): String =
      (Seq(name, rows.toString, hash) ++
        floats.map { case (c, s, n) => s"$c=$s:$n" }).mkString("\t")
  }

  private def isFloat(dt: DataType): Boolean = dt == DoubleType || dt == FloatType

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): Sig = {
    // rename positionally so duplicate or dotted output names stay addressable
    val fields = df.schema.fields.zipWithIndex
    val renamed = df.toDF(fields.map { case (_, i) => s"c$i" }.toSeq: _*)
    val byName = fields.sortBy { case (f, i) => (f.name, i) }
    val exact: Seq[Column] = byName.collect {
      case (f, i) if !isFloat(f.dataType) =>
        if (hasMap(f.dataType)) to_json(col(s"c$i")) else col(s"c$i")
    }.toSeq
    val floats = byName.collect { case (f, i) if isFloat(f.dataType) => (f.name, i) }.toSeq
    val rowHash = if (exact.isEmpty) lit(0L) else xxhash64(exact: _*)
    val aggs = Seq(count(lit(1)), sum(rowHash.cast(DecimalType(38, 0)))) ++
      floats.flatMap { case (_, i) =>
        Seq(sum(col(s"c$i").cast(DoubleType)), count(col(s"c$i"))) }
    val r = renamed.agg(aggs.head, aggs.tail: _*).head()
    val hash = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    Sig(r.getLong(0), hash, floats.zipWithIndex.map { case ((name, _), k) =>
      val s = if (r.isNullAt(2 + 2 * k)) 0.0 else r.getDouble(2 + 2 * k)
      (name, s, r.getLong(3 + 2 * k))
    })
  }

  private def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** `None` when `got` matches `want`, else a one-line difference. */
  def compare(got: Sig, want: Sig): Option[String] =
    if (got.rows != want.rows) Some(s"rows ${got.rows} != ${want.rows}")
    else if (got.hash != want.hash) Some(s"row hash ${got.hash} != ${want.hash}")
    else if (got.floats.map(_._1) != want.floats.map(_._1))
      Some(s"float columns ${got.floats.map(_._1)} != ${want.floats.map(_._1)}")
    else got.floats.zip(want.floats).collectFirst {
      case ((c, gs, gn), (_, ws, wn)) if gn != wn || !close(gs, ws) =>
        s"column $c sum/count $gs/$gn != $ws/$wn"
    }

  /** Reads the expectations file: one tab-separated line per query. */
  def load(path: Path): Map[String, Sig] =
    Files.readAllLines(path).asScala.iterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val p = l.split("\t")
        p(0) -> Sig(p(1).toLong, p(2), p.drop(3).toSeq.map { f =>
          val eq = f.lastIndexOf('='); val colon = f.lastIndexOf(':')
          (f.substring(0, eq), f.substring(eq + 1, colon).toDouble,
            f.substring(colon + 1).toLong)
        })
      }.toMap
}
