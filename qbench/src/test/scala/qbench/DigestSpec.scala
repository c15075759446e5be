package qbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sample = spark.range(0, 200).select(
    col("id"), (col("id") % 7).as("g"), concat(lit("k"), col("id")).as("s"),
    map(lit("m"), col("id")).as("m"))

  test("row order and partitioning do not change the digest") {
    val base = Digest.of(sample)
    assert(Digest.of(sample.orderBy(col("id").desc)) == base)
    assert(Digest.of(sample.repartition(7, col("g"))) == base)
    assert(Digest.of(sample.coalesce(1)) == base)
    assert(base.startsWith("200:"))
  }

  test("a duplicated row changes the digest, even an even number of copies") {
    val base = Digest.of(sample)
    val one = sample.limit(1)
    val once = Digest.of(sample.union(one))
    val twice = Digest.of(sample.union(one).union(one))
    assert(once != base && twice != base && once != twice)
    // the XOR part alone cannot see the second and third copies
    assert(twice.split(":")(2) == base.split(":")(2))
  }

  test("a changed value in any column changes the digest") {
    val base = Digest.of(sample)
    assert(Digest.of(sample.withColumn("s", when(col("id") === 5, "x").otherwise(col("s")))) != base)
    assert(Digest.of(sample.withColumn("m", map(lit("m"), col("id") + 1))) != base)
  }

  test("empty results and zero-column frames digest to their row count") {
    assert(Digest.of(sample.filter(lit(false))) == "0:0:0")
    assert(Digest.of(spark.range(3).select()) == "3:0:0")
  }
}
