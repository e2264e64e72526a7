package graft.queries

import org.apache.spark.sql.functions._
import graft.ops._

/** M4 scaler queries: fit = aggregation, transform = affine projection after
  * a broadcast join of the per-group stats (SURVEY §2.7 M4, A10/A11).
  * Pure SQL on both engines so the oracle replicates bit-for-bit; the MLlib
  * wrappers live in graft.ml.
  */
object Scalers {
  import Q._

  /** Oracle-side transform: mirrors Scaling.scale's zero/NULL-scale guard. */
  private def sqlTransform(v: String): String =
    s"""CASE WHEN s.scl = CAST(0.0 AS DOUBLE) OR s.scl IS NULL
        THEN $v - s.ctr ELSE ($v - s.ctr) / s.scl END"""

  private val sqlStddevPop = {
    val n = "CAST(count(x) AS DOUBLE)"
    val sm = "CAST(sum(CAST(x AS DECIMAL(30,4))) AS DOUBLE)"
    val s2 = "CAST(sum(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE)"
    s"CASE WHEN $n > 0 THEN sqrt(greatest(($s2 - $sm * $sm / $n) / $n, CAST(0.0 AS DOUBLE))) END"
  }

  val defs: Seq[QDef] = Seq(
    QDef(
      "m4_scale_standard",
      (s, d) =>
        Scaling.scale(t(s, d, "customer"), Seq("c_nationkey"), "c_acctbal", "standard", "scaled")
          .select("c_custkey", "c_acctbal", "scaled"),
      Some(s"""WITH s AS (SELECT c_nationkey,
                 ${Exact.sqlDmean("x")} AS ctr, $sqlStddevPop AS scl
                 FROM (SELECT c_nationkey, c_acctbal AS x FROM customer) GROUP BY 1)
               SELECT c_custkey, c_acctbal, ${sqlTransform("c_acctbal")} AS scaled
               FROM customer JOIN s USING (c_nationkey)""")),

    QDef(
      "m4_scale_minmax",
      (s, d) =>
        Scaling.scale(t(s, d, "supplier"), Seq("s_nationkey"), "s_acctbal", "minmax", "scaled")
          .select("s_suppkey", "s_acctbal", "scaled"),
      Some(s"""WITH s AS (SELECT s_nationkey, min(s_acctbal) AS ctr,
                 max(s_acctbal) - min(s_acctbal) AS scl
                 FROM supplier GROUP BY 1)
               SELECT s_suppkey, s_acctbal, ${sqlTransform("s_acctbal")} AS scaled
               FROM supplier JOIN s USING (s_nationkey)""")),

    QDef(
      "m4_scale_zero_mean",
      (s, d) =>
        Scaling.scale(t(s, d, "part"), Seq("p_brand"), "p_retailprice", "zero_mean", "scaled")
          .select("p_partkey", "p_retailprice", "scaled"),
      Some(s"""WITH s AS (SELECT p_brand, ${Exact.sqlDmean("x")} AS ctr,
                 CAST(1.0 AS DOUBLE) AS scl
                 FROM (SELECT p_brand, p_retailprice AS x FROM part) GROUP BY 1)
               SELECT p_partkey, p_retailprice, ${sqlTransform("p_retailprice")} AS scaled
               FROM part JOIN s USING (p_brand)""")),

    QDef(
      "m4_scale_rank",
      // percent-rank (ECDF) normalization per event_type — the
      // QuantileTransformer-style map to [0,1]; ties share a quantile
      // (rank is tie-stable in both engines, no tiebreak needed)
      (s, d) =>
        Scaling.rankNormalize(events(s, d), Seq("event_type"), "value", "q")
          .select("event_id", "event_type", "value", "q"),
      Some("""SELECT event_id, event_type, value,
                percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS q
              FROM events""")),

    QDef(
      "m4_scale_robust",
      (s, d) =>
        Scaling.scale(events(s, d), Seq("event_type"), "value", "robust", "scaled")
          .select("event_id", "value", "scaled"),
      Some(s"""WITH ${Stats.exactQuantilesSql("events", "event_type", "value", Seq(0.25, 0.5, 0.75))},
              s AS (SELECT event_type,
                      min(CASE WHEN q = CAST(0.5 AS DOUBLE) THEN q_value END) AS ctr,
                      min(CASE WHEN q = CAST(0.75 AS DOUBLE) THEN q_value END)
                      - min(CASE WHEN q = CAST(0.25 AS DOUBLE) THEN q_value END) AS scl
                    FROM quant GROUP BY 1)
              SELECT event_id, value,
                CASE WHEN s.scl = CAST(0.0 AS DOUBLE) OR s.scl IS NULL
                     THEN value - s.ctr ELSE (value - s.ctr) / s.scl END AS scaled
              FROM events JOIN s USING (event_type)"""))
  )
}
