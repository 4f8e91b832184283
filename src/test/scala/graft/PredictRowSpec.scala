package graft

import java.nio.file.Files

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.{DefaultParamsWritable, Identifiable}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._

/** `predictRow`'s prepared chain gives, bit for bit, what a Catalyst query
  * of the model over the same one-row frame gives, for every deployable
  * family and every kind of input datum; a model that does not predict
  * through a chain of Projects is refused. */
class PredictRowSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private lazy val trainer = new Trainer(spark, Files.createTempDirectory("graft_row_").toString)
  private def registry = trainer.registry

  private lazy val relation: DataFrame = (0 until 80).map { i =>
    val color = Seq("red", "green", "blue")(i % 3)
    val x: java.lang.Double = if (i % 10 == 9) null else (i % 20).toDouble
    val flag = (i % 4 / 2).toDouble
    val y = (if (color == "red") 10.0 else 0.0) + (i % 20) * 0.5 + flag * 3
    (color, x, flag, y, if (y > 8) 1.0 else 0.0)
  }.toDF("color", "x", "flag", "y", "label")

  /** Inputs of every kind: full, null and missing categorical, unseen
    * category, Booleans, numeric strings and a missing numeric. */
  private val inputs: Seq[Map[String, Any]] = Seq(
    Map("color" -> "red", "x" -> 7, "flag" -> 1.0),
    Map("color" -> null, "x" -> 7.25, "flag" -> 0.0),
    Map("x" -> 3L, "flag" -> 1),
    Map("color" -> "violet", "x" -> 11.0, "flag" -> 0.0),
    Map("color" -> "green", "x" -> 2.0, "flag" -> true),
    Map("color" -> "blue", "x" -> 5.0, "flag" -> false),
    Map("color" -> "red", "x" -> "7.5", "flag" -> "1"),
    Map("color" -> "green", "flag" -> 0.0))

  /** The Catalyst answer: the model over a one-row frame of the fitted
    * schema, converted as `predictRow` converts its row. */
  private def viaQuery(id: Long, row: Map[String, Any]): Double = {
    val schema = StructType(Seq(StructField("color", StringType), StructField("x", DoubleType),
      StructField("flag", DoubleType)))
    val values = schema.map { f =>
      row.get(f.name).flatMap(Option(_)) match {
        case None => null
        case Some(v) if f.dataType == StringType => v.toString
        case Some(v: Number) => v.doubleValue()
        case Some(v: Boolean) => if (v) 1.0 else 0.0
        case Some(v) => v.toString.toDouble
      }
    }
    val frame = spark.createDataFrame(java.util.Collections.singletonList(Row(values: _*)), schema)
    registry.predictWithModel(id, frame).select("prediction").head().get(0)
      .asInstanceOf[Number].doubleValue()
  }

  private def assertParity(project: String, id: Long): Unit = {
    registry.deploy(project, id, "specific")
    inputs.foreach { row =>
      val got = registry.predictRow(project, row)
      val want = viaQuery(id, row)
      assert(java.lang.Double.doubleToRawLongBits(got) == java.lang.Double.doubleToRawLongBits(want),
        s"$project on $row: predictRow $got, query $want")
    }
  }

  private def trained(project: String, task: String, algorithm: String,
      hyperparams: Map[String, Any] = Map.empty): Long = {
    val (df, y) = task match {
      case "classification" => (relation.drop("y"), Some("label"))
      case "clustering" => (relation.drop("y", "label"), None)
      case _ => (relation.drop("label"), Some("y"))
    }
    trainer.train(project, task, df, y, algorithm, hyperparams, testSize = 0.0).modelId
  }

  /** A model built outside `train`, saved over `train`'s fitted columns. */
  private def saved(project: String, model: Any): Long = {
    val plans = Seq("color", "x", "flag").map(ColumnPlan(_, impute = "zero"))
    val fitted = Preprocessor.fit(relation, plans, "y")
    registry.saveModel(project, "regression", "custom", Map.empty, Map.empty, model, fitted,
      Preprocessor.featureNames(fitted))
  }

  Seq(("linear", "regression", "linear"), ("ridge", "regression", "ridge"),
    ("logistic", "classification", "linear"), ("forest", "regression", "random_forest"),
    ("boosted", "classification", "gradient_boosting_trees"), ("knn", "regression", "knn"),
    ("huber", "regression", "huber"), ("kmeans", "clustering", "kmeans")).foreach {
    case (project, task, algorithm) =>
      test(s"predictRow equals the query's bits: $project") {
        val hp: Map[String, Any] = if (algorithm == "kmeans") Map("n_clusters" -> 3) else Map.empty
        assertParity(project, trained(project, task, algorithm, hp))
      }
  }

  test("predictRow equals the query's bits: a warm-started logistic head and centroids") {
    assertParity("warm_logistic", saved("warm_logistic",
      new GdLogisticModel(Array(0.4, -0.25, 1.5), -0.75)))
    assertParity("centroids", saved("centroids",
      new CentroidModel(Array(Array(0.0, 1.0, 0.0), Array(2.0, 5.0, 1.0), Array(1.0, 12.0, 0.5)))))
  }

  test("a model that does not predict through a chain of Projects is refused") {
    val id = saved("rows_dropped", new RowsDropped())
    registry.deploy("rows_dropped", id, "specific")
    val e = intercept[IllegalStateException](registry.predictRow("rows_dropped", inputs.head))
    assert(e.getMessage.contains("chain of evaluable Projects"), e.getMessage)
  }
}

/** A model whose prediction keeps only some rows: a `Filter` in its plan. */
class RowsDropped(override val uid: String) extends Transformer with DefaultParamsWritable {
  def this() = this(Identifiable.randomUID("rowsDropped"))
  override def transform(ds: Dataset[_]): DataFrame =
    ds.toDF().withColumn("prediction", lit(1.0)).where("flag > 0")
  override def transformSchema(schema: StructType): StructType =
    schema.add("prediction", DoubleType, nullable = false)
  override def copy(extra: ParamMap): RowsDropped = defaultCopy(extra)
}
