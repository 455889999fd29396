package graft.perfbench

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}

/** The graph family of the query catalog, run through `SparkEntry.queries`
  * on seeded `part` and `lineitem` tables: the only two tables those
  * queries read. Orders buy parts of one category (the id's last digit),
  * so the co-purchase graph the queries derive is dense within a category.
  */
object Catalog {
  val Queries: Seq[String] = Seq("g02_neighborhoods", "g05_edge_weights",
    "g08_components", "g13_kcore", "g17_betweenness_k3")

  val Parts = 500
  val Orders = 1000

  private def schema(table: String): StructType = StructType(
    Tables.contracts(table).map { case (n, t) => StructField(n, t) })

  /** Writes `part.parquet` and `lineitem.parquet` under `dir`. */
  def write(spark: SparkSession, seed: Long, dir: File): String = {
    val rnd = new SplittableRandom(seed)
    val brands = (1 to 5).map(i => s"Brand#$i")
    val types = Seq("STEEL", "BRASS", "COPPER", "TIN")
    val parts = (0 until Parts).map { p =>
      Row(p.toLong, s"part $p", brands(rnd.nextInt(brands.size)),
        types(rnd.nextInt(types.size)), 1 + rnd.nextInt(10),
        900.0 + rnd.nextInt(20000) / 100.0)
    }
    val day0 = 1704067200000L // 2024-01-01 UTC
    val items = (0 until Orders).flatMap { o =>
      val category = rnd.nextInt(10)
      (1 to 1 + rnd.nextInt(5)).map { line =>
        val part = category + 10 * rnd.nextInt(Parts / 10)
        Row(o.toLong, part.toLong, rnd.nextInt(50).toLong, line,
          (1 + rnd.nextInt(50)).toDouble, 1000.0 + rnd.nextInt(90000) / 100.0,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          if (rnd.nextBoolean()) "R" else "N", if (rnd.nextBoolean()) "O" else "F",
          new Timestamp(day0 + rnd.nextInt(365) * 86400000L))
      }
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(parts.asJava, schema("part")).coalesce(1)
      .write.mode("overwrite").parquet(new File(dir, "part.parquet").getPath)
    spark.createDataFrame(items.asJava, schema("lineitem")).coalesce(1)
      .write.mode("overwrite").parquet(new File(dir, "lineitem.parquet").getPath)
    dir.getPath
  }

  /** Order-free fingerprint of a result: row count and the sum of row
    * hashes, with doubles rounded to 9 significant digits.
    */
  def fingerprint(rows: Array[Row]): (Long, Long) = {
    def cell(v: Any): String = v match {
      case d: Double => f"$d%.9g"
      case f: Float => f"${f.toDouble}%.9g"
      case null => "null"
      case x => x.toString
    }
    val hash = Quality.orderFree(rows.iterator.map { r =>
      scala.util.hashing.MurmurHash3.stringHash(
        r.toSeq.map(cell).mkString("\u0001")).toLong })
    (rows.length.toLong, hash)
  }
}
