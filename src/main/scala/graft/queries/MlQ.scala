package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ml.{Encoders, Ensemble, Impute}
import graft.ops.{Exact, Stats}

/** ML operator queries (SURVEY §2.7). Encode/decode/one-hot are pure SQL
  * and oracle-checked; the MLlib fits (M5 imputation, M6-M9 ensemble+vote)
  * have no SQL equivalent — registered without oracle, so the driver
  * records the weaker rows-only check.
  */
object MlQ {
  import Q._

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** The masked-channel repair of m5b and m10: dim 1 of every 5th vector
    * is refitted from dim 2 by closed-form OLS ([[Impute.ols1Repair]]) on
    * the other rows; (vec_id, e_1 repaired, e_2, e_1_orig).
    */
  private def ols1Repaired(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").select(
      col("vec_id"),
      element_at(col("embedding"), 1).cast("double").as("e_1"),
      element_at(col("embedding"), 2).cast("double").as("e_2"))
    Impute.ols1Repair(
      e.withColumn("e_1_orig", col("e_1")),
      "e_1", "e_2",
      trainFilter = col("vec_id") % 5 =!= 0,
      fixPredicate = col("vec_id") % 5 === 0)
  }

  /** Oracle twin of [[ols1Repaired]]'s fit: CTEs `tr`, `s`, `p` and
    * `p2(slope, icept)` over exact decimal sums.
    */
  private val ols1FitSql =
    """tr AS (SELECT CAST(embedding[2] AS DOUBLE) AS x,
               CAST(embedding[1] AS DOUBLE) AS y
             FROM embeddings WHERE vec_id % 5 <> 0),
       s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
              CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
              CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
              CAST(sum(CAST(x * y AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
              CAST(sum(CAST(x * x AS DECIMAL(38,9))) AS DOUBLE) AS sxx
             FROM tr),
       p AS (SELECT n, sx, sy,
              (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope FROM s),
       p2 AS (SELECT slope, (sy - slope * sx) / n AS icept FROM p)"""

  val defs: Seq[QDef] = Seq(
    QDef(
      "m2_label_decode",
      // encode → decode roundtrip over the fitted label index
      (s, d) => {
        val idx = Encoders.fitLabelIndex(events(s, d), "event_type")
        Encoders.decode(idx, idx, "code", "decoded")
          .select("event_type", "code", "decoded")
      },
      Some("""SELECT event_type, CAST(dense_rank() OVER (ORDER BY event_type) - 1 AS BIGINT) AS code,
              event_type AS decoded
              FROM (SELECT DISTINCT event_type FROM events)""")),

    QDef(
      "m3_onehot",
      (s, d) =>
        Encoders.oneHot(events(s, d), "event_type", eventTypes, "oh")
          .select(col("event_id") +: eventTypes.map(t => col(s"oh_$t")): _*),
      Some {
        val cases = eventTypes
          .map(t => s"CASE WHEN event_type = '$t' THEN 1 ELSE 0 END AS oh_$t")
          .mkString(", ")
        s"SELECT event_id, $cases FROM events"
      }),

    QDef(
      "m5_impute_linreg",
      // "broken channel" repair: dim 1 of every 5th vector is predicted
      // from dims 2..8 via LinearRegression fit on the healthy rows
      (s, d) => {
        val e = t(s, d, "embeddings").select(
          col("vec_id") +:
            (1 to 8).map(i => element_at(col("embedding"), i).cast("double").as(s"e_$i")): _*)
        val repaired = Impute.linearRepair(
          e.withColumn("e_1_orig", col("e_1")),
          "e_1",
          (2 to 8).map(i => s"e_$i"),
          trainFilter = col("vec_id") % 5 =!= 0,
          fixPredicate = col("vec_id") % 5 === 0)
        repaired.select("vec_id", "e_1_orig", "e_1")
      },
      None),

    QDef(
      "m5b_impute_ols1",
      // the hash-checkable impute flavor: same masked channel (dim 1 of
      // every 5th vector), repaired from dim 2 alone via closed-form OLS on
      // exact decimal sums — slope/intercept/prediction are identical IEEE
      // double expressions in both engines, so this row hash-matches where
      // the MLlib multi-feature fit (m5) is rows-only by contract
      (s, d) => ols1Repaired(s, d).select("vec_id", "e_1_orig", "e_1"),
      Some(s"""WITH $ols1FitSql
              SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS e_1_orig,
                CASE WHEN vec_id % 5 = 0
                     THEN p2.slope * CAST(embedding[2] AS DOUBLE) + p2.icept
                     ELSE CAST(embedding[1] AS DOUBLE) END AS e_1
              FROM embeddings, p2"""),
    ),

    QDef(
      "m10_regression_metrics",
      // close the imputation loop with its quality readout: MAE/RMSE/R² of
      // the OLS repair on the masked holdout (the synthetic task masks a
      // KNOWN channel, so ground truth exists). All sums scale-9 truncated
      // fixed point — engine-exact where rounding casts would tie-break
      // differently (see Stats.regressionMetrics scaladoc)
      (s, d) =>
        Stats.regressionMetrics(
          ols1Repaired(s, d).filter(col("vec_id") % 5 === 0), Nil, "e_1_orig", "e_1"),
      Some(s"""WITH $ols1FitSql,
               rep AS (SELECT CAST(embedding[1] AS DOUBLE) AS y,
                        p2.slope * CAST(embedding[2] AS DOUBLE) + p2.icept AS yp
                       FROM embeddings, p2 WHERE vec_id % 5 = 0),
               m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      ${Exact.sqlDsumTrunc9("abs(yp - y)")} AS sae,
                      ${Exact.sqlDsumTrunc9("(yp - y) * (yp - y)")} AS sse,
                      ${Exact.sqlDsumTrunc9("y")} AS sy,
                      ${Exact.sqlDsumTrunc9("y * y")} AS syy FROM rep)
               SELECT n, sae / CAST(n AS DOUBLE) AS mae,
                 sqrt(sse / CAST(n AS DOUBLE)) AS rmse,
                 CASE WHEN syy - sy * sy / CAST(n AS DOUBLE) > CAST(0.0 AS DOUBLE)
                      THEN CAST(1.0 AS DOUBLE) - sse / (syy - sy * sy / CAST(n AS DOUBLE))
                      END AS r2
               FROM m"""),
    ),

    QDef(
      "m6_ensemble_vote",
      // seeded randomized-param RF ensemble + majority vote on the
      // embeddings classification task (labels 0..9)
      (s, d) => {
        val e = t(s, d, "embeddings").select(
          col("vec_id") +: col("label").cast("double").as("label") +:
            (1 to 16).map(i => element_at(col("embedding"), i).cast("double").as(s"f_$i")): _*)
        val train = e.filter(col("vec_id") % 4 =!= 0)
        Ensemble.fitPredictVote(
          train, e, (1 to 16).map(i => s"f_$i"), "label", nModels = 3, outCol = "pred_vote")
          .select(col("vec_id"), col("label").cast("int").as("label"), col("pred_vote"))
      },
      None),

    QDef(
      "m6b_ensemble_boosted",
      // the boosted flavor (OneVsRest over seeded GBTs — the closest
      // offline rendering of the reference's LightGBM boosters), driver-
      // exercised each round like m6. GBT in MLlib is binary-only, so
      // multiclass costs nModels×nClasses boosted fits: the task is
      // restricted to 4 classes / 2 members (8 fits) to exercise the path
      // without dominating the bench. Rows-only by contract (MLlib fit).
      (s, d) => {
        val e = t(s, d, "embeddings")
          .filter(col("label") < 4)
          .select(
            col("vec_id") +: col("label").cast("double").as("label") +:
              (1 to 8).map(i => element_at(col("embedding"), i).cast("double").as(s"f_$i")): _*)
        val train = e.filter(col("vec_id") % 4 =!= 0)
        Ensemble.fitPredictVoteBoosted(
          train, e, (1 to 8).map(i => s"f_$i"), "label", nModels = 2, outCol = "pred_vote")
          .select(col("vec_id"), col("label").cast("int").as("label"), col("pred_vote"))
      },
      None)
  )
}
