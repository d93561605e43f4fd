package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The batch gate's result checksum: `cd perfbench && sbt test`. */
class ChecksumSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def frame(rows: Seq[(Long, String, Double)]) = {
    import spark.implicits._
    rows.toDF("id", "name", "x")
  }
  private val rows = Seq((1L, "a", 0.5), (2L, "b", -1.25), (3L, null, 7.0), (3L, null, 7.0))

  test("the checksum ignores row order and partitioning") {
    val base = Batch.checksum(frame(rows))
    assert(base._1 == 4)
    assert(Batch.checksum(frame(rows.reverse)) == base)
    assert(Batch.checksum(frame(rows).repartition(3)) == base)
  }

  test("the checksum sees a changed value, a dropped duplicate and a column order") {
    val base = Batch.checksum(frame(rows))
    assert(Batch.checksum(frame(rows.updated(1, (2L, "b", -1.5)))) != base)
    assert(Batch.checksum(frame(rows.distinct)) != base)
    assert(Batch.checksum(frame(rows).select("name", "id", "x")) != base)
  }

  test("map columns and empty results are checksummed") {
    import spark.implicits._
    val maps = Seq(Map("k" -> 1, "j" -> 2), Map("z" -> 3)).toDF("m")
    assert(Batch.checksum(maps)._1 == 2)
    assert(Batch.checksum(frame(rows).filter("id < 0")) == ((0L, "0")))
  }
}
