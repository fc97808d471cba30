package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Contract lock on the measured session defaults — every value here
  * was adopted (or lowered) by an isolated A/B or a survival run, so
  * a change must come with a new measurement, not a drive-by edit.
  * Asserted on the LIVE shared session, proving `tune` actually
  * plumbs the map through, not just that the map holds the values.
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val conf = TestSpark.spark.conf

  test("SMJ->SHJ conversion threshold is the skew-survival-safe 64 MB") {
    // 128 MB OOM'd the skewed-sf100 suite inside a no-spill SHJ
    // build (ROUND10_NOTES §7c): the gate is COMPRESSED max-partition
    // bytes, the in-heap map is ~7x that, and AQE's skew split can
    // never divide a build-side partition. Raising this needs the
    // sizing rule re-checked: threshold x tasks/executor x ~7 <= heap.
    assert(conf.get("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold")
      .replaceAll("b$", "") == (64L * 1024 * 1024).toString)
  }

  test("AQE skew-split bars are the measured 32 MB / 2x") {
    // Upstream 256 MB/5x never fires on a ~72 MB hot partition over a
    // ~2 MB median (zipf-sf100 q3, a 6x one-task wall). Gated on
    // runtime stats, so uniform loads are untouched (ROUND10_NOTES §7b).
    assert(conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      .replaceAll("b$", "") == (32L * 1024 * 1024).toString)
    assert(conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .toDouble == 2.0)
  }

  test("nanos-as-long parquet flag is set at session build, not by loaders") {
    // Round-9 verdict nit: a table loader mutating session conf was a
    // surprising side effect; the flag lives in `recommended` now and
    // Tables' schema probe rebuilds proper micros from the raw longs.
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("the factory session carries every recommended conf, UTC, cpus shuffle partitions and the extensions") {
    GraftSession.recommended.foreach { case (k, v) => assert(conf.get(k).replaceAll("b$", "") == v, k) }
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(TestSpark.spark.sparkContext.master == "local[4]" && conf.get("spark.sql.shuffle.partitions") == "4")
    assert(TestSpark.spark.sql("SELECT cosine_similarity(array(1.0F), array(2.0F))").head().getDouble(0) == 1.0)
  }

  test("GraftSession.scala is the only file under src that builds a session") {
    val needle = "SparkSession" + ".builder" // split so this file does not match itself
    val hits = Files.walk(Paths.get("src")).iterator.asScala.filter(Files.isRegularFile(_))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle)).map(_.toString).toSeq
    assert(hits == Seq("src/main/scala/graft/GraftSession.scala"))
  }
}
