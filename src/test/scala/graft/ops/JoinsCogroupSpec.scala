package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The bucketed interval join must return exactly the pairs of the
  * brute-force inequality join, at any bucket size.
  */
class JoinsCogroupSpec extends SparkSpec {
  import spark.implicits._

  test("intervalOverlap == brute-force inequality join at any bucket size") {
    val rnd = new scala.util.Random(11)
    // spans from empty (end == start) through many-bucket; boundary points
    val intervals = (1 to 80).map { i =>
      val s = rnd.nextInt(900).toLong
      (rnd.nextInt(4).toLong, i.toLong, s, s + rnd.nextInt(250).toLong)
    }.toDF("key", "iid", "start", "end")
    val points = ((1 to 300).map(_ => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong)) ++
      intervals.as[(Long, Long, Long, Long)].collect().flatMap { case (k, _, s, e) =>
        Seq((k, s), (k, e)) // exact half-open boundaries: s in, e out
      }).toDF("key", "ts")
    val naive = intervals.as("i").join(points.as("p"),
        col("i.key") === col("p.key") &&
          col("p.ts") >= col("i.start") && col("p.ts") < col("i.end"))
      .select(col("i.key"), col("iid"), col("ts"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    for (bucket <- Seq(1L, 7L, 64L, 1000L)) {
      val scattered = Joins.intervalOverlap(
          intervals, points, Seq("key"), "start", "end", "ts", bucket)
        .select(col("key"), col("iid"), col("ts"))
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(scattered == naive, s"bucket=$bucket")
    }
    assert(naive.nonEmpty)
  }
}
