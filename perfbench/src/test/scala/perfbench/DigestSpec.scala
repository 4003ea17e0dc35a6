package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType), StructField("amount", DecimalType(12, 2)),
    StructField("vec", ArrayType(FloatType)),
    StructField("pair", StructType(Seq(StructField("a", IntegerType),
      StructField("b", StringType))))))

  private val rows = (1 to 40).map { i =>
    Row(i.toLong, if (i % 7 == 0) null else s"n$i", i * 0.1,
      BigDecimal(i) / 4, Seq(i.toFloat, -i.toFloat), Row(i % 3, s"b$i"))
  }

  private def digest(rs: Seq[Row], parts: Int) =
    Digest.of(spark.createDataFrame(spark.sparkContext.parallelize(rs, parts),
      schema))

  test("the digest ignores row order and partitioning") {
    val d = digest(rows, 1)
    assert(d.rows == 40)
    assert(digest(rows.reverse, 3) == d)
    assert(digest(scala.util.Random.shuffle(rows), 5) == d)
  }

  test("the digest sees a changed value, a dropped row and a duplicate") {
    val d = digest(rows, 2)
    assert(digest(rows.updated(5, Row(6L, "n6", 0.6000001, BigDecimal(6) / 4,
      Seq(6f, -6f), Row(0, "b6"))), 2) != d)
    assert(digest(rows.tail, 2) != d)
    assert(digest(rows :+ rows.head, 2) != d)
  }

  test("the digest folds float noise below ten significant digits") {
    val a = Row(1L, "x", 0.1 + 0.2, BigDecimal(1), Seq(1f), Row(1, "y"))
    val b = Row(1L, "x", 0.3, BigDecimal(1), Seq(1f), Row(1, "y"))
    assert(digest(Seq(a), 1) == digest(Seq(b), 1))
  }
}
