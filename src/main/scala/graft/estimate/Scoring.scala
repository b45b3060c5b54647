package graft.estimate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, isnan, lit, pow, when}

/** Distributed workload scoring — the serving half of the neural
  * estimator. Training runs on the driver (campaign n is thousands of
  * measured queries); SCORING is the part that has to scale: a system
  * routing millions of queries per day wants the predicted-runtime
  * bucket stamped onto every query of a workload table without the
  * SQL corpus ever visiting the driver.
  *
  * Scale shape: both checkpoints (model JSON, stats-model JSON — tens
  * to hundreds of KB) are broadcast as TEXT and parsed once per
  * partition inside `mapPartitions`, so executors never touch the
  * driver's filesystem and none of the model classes need to be
  * java-serializable. The job is one narrow map over however the
  * workload is already partitioned — zero shuffles, zero collects —
  * and per-row work is exactly the encode+forward the driver-side
  * evaluation does ([[Evaluate]]).
  *
  * All six persisted families serve through the same surface: the
  * checkpoint's `kind` tag ([[ModelIo.kindOf]]) picks the encoder +
  * forward pass, so swapping the production estimator is a checkpoint
  * swap, not a code change.
  *
  * Reference analog: dqo's estimator trains in `train.py` and then
  * batch-applies predictions to workload CSVs driver-side
  * (dqo/estimator/gerelt/v20/train.py, estimate.py); re-expressed as a
  * DataFrame transform instead of a Python loop.
  */
object Scoring {

  /** Build the `sql => log2(seconds)` predictor for a checkpoint of
    * ANY persisted family, dispatching on its `kind` tag. This is the
    * executor-side kernel (called once per partition on the broadcast
    * strings), but it is driver-callable too — specs use it to assert
    * the distributed scores equal the local ones.
    *
    * Per family, reproduces the exact encode→normalize→forward chain
    * its [[Evaluate]] row trains with (EvaluateSpec reloads every saved
    * model through here): flat traversal matrix for gru/relcnn,
    * parent-linked tree for gru4/treelstm, the raw binary set matrices
    * for mscn (no z-score, by reference convention), the flat neo bit
    * vector for neonet. For the `gru` bucket CLASSIFIER the returned
    * value is the predicted bucket as a double — its bucket center 2^b is
    * then the same `est_seconds` the regressors' 2^log2 is.
    */
  def predictorFor(modelJson: String, statsJson: String): String => Double = {
    val db = graft.model.ModelJson.fromJson(statsJson)
    ModelIo.kindOf(modelJson) match {
      case "gru" =>
        val (m, norm) = ModelIo.loadGruNormFromJson(modelJson)
        sql => m.predict(Evaluate.flatRows(db, sql, m.p.cfg.inputDim, norm)).toDouble
      case "gru4" =>
        val (m, norm) = ModelIo.loadGru4NormFromJson(modelJson)
        sql => m.predict(Evaluate.treeOf(db, sql, m.p.cfg.inputDim, norm))
      case "treelstm" =>
        val (m, norm) = ModelIo.loadTreeLstmNormFromJson(modelJson)
        sql => m.predict(Evaluate.treeOf(db, sql, m.p.cfg.inputDim, norm))
      case "relcnn" =>
        val (m, norm) = ModelIo.loadRelCnnNormFromJson(modelJson)
        sql => m.predict(Evaluate.flatRows(db, sql, m.p.cfg.inputDim, norm))
      case "mscn" =>
        val m = ModelIo.loadMscnFromJson(modelJson)
        sql => m.predictLog2(
          Mscn.sets(graft.encode.SetEncoders.encodeMscn(db, sql)))
      case "neonet" =>
        val m = ModelIo.loadNeoFromJson(modelJson)
        sql => m.predict(Estimator.featurizeWith(db, sql, "neo"))
      case k => throw new IllegalArgumentException(
        s"no serving path for checkpoint kind '$k'")
    }
  }

  // the shared narrow map: (sql, log2 prediction), NaN for rows whose
  // SQL does not parse or bind — a scorer that silently dropped rows
  // would corrupt any downstream join on the workload
  private def scoreLog2(spark: SparkSession, workload: DataFrame,
                        sqlCol: String, modelJson: String,
                        statsJson: String): DataFrame = {
    import spark.implicits._
    val bModel = spark.sparkContext.broadcast(modelJson)
    val bStats = spark.sparkContext.broadcast(statsJson)
    workload.select(col(sqlCol).cast("string")).as[String]
      .mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else {
          val predict = predictorFor(bModel.value, bStats.value)
          it.map { sql =>
            (sql, scala.util.Try(predict(sql)).getOrElse(Double.NaN))
          }
        }
      }
      .toDF(sqlCol, "log2_seconds")
  }

  /** Score `workload`'s `sqlCol` with a checkpoint of any persisted
    * family ([[ModelIo]] JSON; `kind`-dispatched). Output columns: the
    * SQL column (name preserved), `log2_seconds` — the model's log2
    * runtime prediction (the gru classifier's predicted bucket counts
    * as its log2, bucket center 2^b) — and `est_seconds` = 2^log2.
    * Unbindable SQL keeps its row with NaNs.
    */
  def scoreWorkloadAny(spark: SparkSession, workload: DataFrame, sqlCol: String,
                       modelJson: String, statsJson: String): DataFrame =
    scoreLog2(spark, workload, sqlCol, modelJson, statsJson)
      .select(col(sqlCol), col("log2_seconds"),
        pow(lit(2.0), col("log2_seconds")).as("est_seconds"))

  /** Score `workload`'s `sqlCol` with a persisted GRU bucket
    * classifier ([[ModelIo.saveGru]] JSON, z-score constants riding
    * along) against `statsJson` ([[graft.model.ModelJson]]).
    *
    * Output columns: the SQL column (name preserved), `bucket` — the
    * predicted reference-space runtime bucket (0..8,
    * dqo/estimator/partitioner.py:40-46) — and `est_seconds`, the
    * bucket center 2^b. Rows whose SQL does not parse or bind against
    * the stats model keep their row with `bucket = -1` /
    * `est_seconds = NaN`.
    */
  def scoreWorkload(spark: SparkSession, workload: DataFrame, sqlCol: String,
                    modelJson: String, statsJson: String): DataFrame = {
    require(ModelIo.kindOf(modelJson) == "gru",
      "scoreWorkload serves the gru bucket classifier; " +
        "use scoreWorkloadAny for the regressor families")
    scoreLog2(spark, workload, sqlCol, modelJson, statsJson)
      .select(col(sqlCol),
        when(isnan(col("log2_seconds")), lit(-1))
          .otherwise(col("log2_seconds").cast("int")).as("bucket"),
        when(isnan(col("log2_seconds")), lit(Double.NaN))
          .otherwise(pow(lit(2.0), col("log2_seconds"))).as("est_seconds"))
  }
}
