package graft.ml

import org.apache.spark.ml.util.MLWritable
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference,
  InterpretedMutableProjection, NamedExpression, Unevaluable}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** Model registry + deployment semantics — the `pgml.projects/models/
  * deployments` tables (pgml-extension/src/api.rs:376-430, orm/project.rs,
  * orm/strategy.rs) as parquet tables under a registry dir, with MLlib
  * native model persistence standing in for `pgml.files` estimator bytes.
  *
  * Deploy strategies: best_score | most_recent | rollback | specific
  * (src/api.rs:332-437).
  */
class Registry(spark: SparkSession, dir: String) {
  import spark.implicits._
  private implicit val fmts: Formats = DefaultFormats

  private def modelsPath = s"$dir/models"
  private def deploymentsPath = s"$dir/deployments"
  private def splittersPath = s"$dir/splitters"
  private def modelDir(id: Long) = s"$dir/files/model_$id"

  // Serving caches — the reference keeps deployed estimators in shared
  // memory per backend process rather than re-reading pgml.files per call
  // (pgml-extension/src/orm/model.rs cache); here: model dirs are immutable
  // per id so the model cache never invalidates, and the per-project
  // deployment pointer invalidates on deploy().
  private val modelCache = scala.collection.concurrent.TrieMap.empty[Long, Served]
  private val deployCache =
    scala.collection.concurrent.TrieMap.empty[String, DeploymentRow]
  private val metricsCache =
    scala.collection.concurrent.TrieMap.empty[Long, Map[String, Double]]
  // responses.json sidecar per conversation-tuned model — immutable once
  // attached, so generate() must not pay file IO + JSON parse per call
  private val responsesCache =
    scala.collection.concurrent.TrieMap.empty[Long, Option[Map[Int, String]]]

  /** Drop every serving cache — the next predict resolves the deployment
    * pointer and reloads the estimator through MLlib's readers (what a
    * fresh process would do). Tests use this to prove persistence. */
  def clearServingCaches(): Unit = {
    modelCache.clear(); deployCache.clear()
    metricsCache.clear(); responsesCache.clear()
  }
  // highest allocated model id — seeded from the parquet table once, then
  // advanced in memory (model rows are append-only and ids never reused).
  // The in-memory counter is only a same-instance floor: another Registry
  // over the same dir may allocate concurrently, so allocateId() re-seeds
  // from disk whenever its candidate's model dir already exists, and
  // saveModel() writes without overwrite so a true collision fails loudly
  // instead of silently clobbering the other instance's model.
  private val maxIdSeen = new java.util.concurrent.atomic.AtomicLong(-1L)

  private def allocateId(): Long = {
    maxIdSeen.compareAndSet(-1L,
      models.agg(coalesce(max(col("model_id")), lit(0L))).head().getLong(0))
    var id = maxIdSeen.incrementAndGet()
    while (new java.io.File(modelDir(id)).exists()) {
      val tableMax =
        models.agg(coalesce(max(col("model_id")), lit(0L))).head().getLong(0)
      maxIdSeen.getAndUpdate(cur => math.max(cur, math.max(tableMax, id)))
      id = maxIdSeen.incrementAndGet()
    }
    id
  }

  // mergeSchema: the one-file-per-row log layout means schema inference
  // would otherwise sample ONE arbitrary file — a registry holding rows
  // from before a column addition (runtime landed after round 13) must
  // read deterministically, old rows surfacing the new column as null.
  // Cheap at one-file-per-row scale, and applied to EVERY log table so the
  // next row-schema evolution can't reintroduce the sampled-schema bug.
  private def readLogTable(path: String, empty: => DataFrame): DataFrame = {
    // "exists" is not enough: the splitters dir may hold only the
    // underscore-prefixed _alloc marker dir before the first row lands, and
    // parquet schema inference fails on a data-less directory
    val d = new java.io.File(path)
    val hasData = d.isDirectory && Option(d.listFiles()).exists(_.exists(f =>
      !f.getName.startsWith("_") && !f.getName.startsWith(".")))
    if (hasData) spark.read.option("mergeSchema", "true").parquet(path)
    else empty
  }

  def models: DataFrame =
    readLogTable(modelsPath, spark.emptyDataset[ModelRow].toDF())

  def deployments: DataFrame =
    readLogTable(deploymentsPath, spark.emptyDataset[DeploymentRow].toDF())

  /** The `pgml.splitters` registry (pgml-sdks/pgml/src/queries.rs:39-47:
    * id, name, parameters jsonb, project_id + created_at). The store's
    * Pipeline schema carries splitter parameters for sync execution; this
    * table is the registry surface a pipeline registers against, so
    * splitter configs are enumerable and dump/load-able alongside
    * models/deployments (m19). */
  def splitters: DataFrame =
    readLogTable(splittersPath, spark.emptyDataset[SplitterRow].toDF())

  /** Get-or-create a splitter row by (name, parameters, project_id) — the
    * SDK's FK shape: one row per distinct splitter config per project.
    * Returns the splitter id. Row-scale driver-side append (zero Spark
    * jobs beyond the lookup read).
    *
    * Concurrency discipline (same class of guard as allocateId /
    * DeltaTable's write-ahead alloc markers, the r15-verdict durability
    * fix): under `_alloc/` (underscore-prefixed — invisible to parquet
    * readers and dump_all) the registration atomically claims TWO markers.
    * `cfg-<md5(config)>` makes one caller per distinct config the writer —
    * losers of that race wait for the winner's row and return ITS id, so
    * same-config concurrent registrations converge on one row. The
    * winner's id then rides `alloc-<id>` (createNewFile, atomic), so
    * concurrent registrations of DIFFERENT configs can never mint the same
    * id even though both saw the same max(id). If a claim holder crashed
    * pre-append, the waiter times out and appends its own row; readers
    * take min(id) per config, so even that degraded path converges. */
  def getOrCreateSplitter(name: String, parameters: String, projectId: Long): Long = {
    def lookup(): Option[Long] = {
      val r = splitters
        .where(col("name") === name && col("parameters") === parameters &&
          col("project_id") === projectId)
        .agg(min(col("id"))).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    def append(): Long = {
      val allocDir = new java.io.File(s"$splittersPath/_alloc")
      allocDir.mkdirs()
      var id = splitters.agg(coalesce(max(col("id")), lit(0L))).head().getLong(0) + 1
      while (!new java.io.File(allocDir, s"alloc-$id").createNewFile()) id += 1
      graft.store.DeltaTable.appendLogFilesLocal(splittersPath,
        Seq("id" -> "long", "name" -> "string", "parameters" -> "string",
          "project_id" -> "long", "created_at" -> "string"),
        Seq(Seq(id, name, parameters, projectId,
          java.time.Instant.now().toString)))
      id
    }
    lookup().getOrElse {
      val allocDir = new java.io.File(s"$splittersPath/_alloc")
      allocDir.mkdirs()
      val cfgKey = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$name\u0000$parameters\u0000$projectId"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      if (new java.io.File(allocDir, s"cfg-$cfgKey").createNewFile()) append()
      else {
        // another registration of this exact config holds the claim — poll
        // for its row (bounded), then fall back to an own append whose id
        // converges via min(id) if the claimant died pre-append
        var r = lookup()
        var waitedMs = 0
        while (r.isEmpty && waitedMs < 10000) {
          Thread.sleep(50); waitedMs += 50; r = lookup()
        }
        r.getOrElse(append())
      }
    }
  }

  /** Upgrade an older registry layout IN PLACE to the current row schemas
    * (the SDK's `migrate()`, pgml-sdks/pgml/src/migrations/mod.rs: version
    * dispatch over stored state, add-column migrations). Every log table
    * is rewritten so EACH parquet file carries the full current schema —
    * the mergeSchema read above keeps old layouts readable, but after
    * migrate() even a single-file-sampled external reader sees current
    * columns, with pre-evolution rows surfacing added columns as null
    * (e.g. a pre-`runtime` models table). Idempotent: tables already on
    * the current schema are left untouched. */
  def migrate(): Unit = {
    migrateLogTable(modelsPath, spark.emptyDataset[ModelRow].toDF())
    migrateLogTable(deploymentsPath, spark.emptyDataset[DeploymentRow].toDF())
    migrateLogTable(splittersPath, spark.emptyDataset[SplitterRow].toDF())
  }

  private def migrateLogTable(path: String, empty: DataFrame): Unit = {
    val d = new java.io.File(path)
    if (!d.isDirectory) return
    val parts = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    if (parts.isEmpty) return
    val target = empty.schema
    val stale = parts.exists(f =>
      spark.read.parquet(f.getPath).schema.fieldNames.toSet !=
        target.fieldNames.toSet)
    if (!stale) return
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    val aligned = merged.select(target.map { f =>
      if (merged.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    // stage the rewritten table beside the old files, then swap: the old
    // parts vanish only after the staged file is fully written, so a crash
    // leaves either the old layout or the upgraded one, never neither
    val stage = s"$path/_migrate-${java.util.UUID.randomUUID()}"
    aligned.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage)
    val staged = Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    require(staged.nonEmpty, s"migrate staged no files under $stage")
    parts.foreach(_.delete())
    staged.foreach { f =>
      if (!f.renameTo(new java.io.File(d, f.getName)))
        throw new java.io.IOException(
          s"could not publish migrated log file ${f.getName} under $path")
    }
    graft.store.DeltaTable.deleteRecursively(new java.io.File(stage))
  }

  /** What actually serves — the reference records which backend fit the
    * requested algorithm in pgml.models.runtime (orm/model.rs:72-89); here
    * the executing family, so a nearest-family substitution (e.g.
    * ransac → GdLinear, catboost → GBTRegression) is visible in the
    * model row. Pipelines list their stage families. */
  private def runtimeOf(model: Any): String = model match {
    case p: org.apache.spark.ml.PipelineModel =>
      p.stages.map(runtimeOf).mkString("+")
    case other => other.getClass.getSimpleName.stripSuffix("Model")
  }

  def saveModel(
      project: String, task: String, algorithm: String,
      hyperparams: Map[String, Any], metrics: Map[String, Double],
      model: Any, fitted: Seq[FittedColumn], featNames: Seq[String]): Long = {
    val id = allocateId()
    model match {
      // no overwrite(): an existing dir means a cross-instance id collision
      // allocateId() missed — fail rather than clobber the other model
      case w: MLWritable => w.write.save(modelDir(id))
      case other => throw new IllegalArgumentException(s"model not persistable: $other")
    }
    // fitted preprocessing + feature layout, JSON beside the estimator
    val metaObj = RegistryMeta(
      model.getClass.getName, featNames,
      fitted.map(f => FittedColumnJson(f.plan.name, f.plan.encode, f.plan.ordinalValues,
        f.plan.impute, f.plan.scale, f.categorical, f.categories, f.imputeValue,
        f.scaleOffset, f.scaleDiv, f.oneHotCats)))
    val meta = Serialization.write(metaObj)
    // prime the serving cache — the first predict after train shouldn't
    // round-trip the estimator through parquet
    model match {
      case t: org.apache.spark.ml.Transformer => modelCache.put(id, new Served(id, metaObj, t))
      case _ =>
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(modelDir(id)))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${modelDir(id)}/graft_meta.json"), meta)

    // one row per train — writes driver-side, zero Spark jobs (ModelRow
    // column order; string-typed like the case class)
    graft.store.DeltaTable.appendLogFilesLocal(modelsPath,
      Seq("model_id" -> "long", "project" -> "string", "task" -> "string",
        "algorithm" -> "string", "runtime" -> "string",
        "hyperparams" -> "string", "metrics" -> "string",
        "created_at" -> "string"),
      Seq(Seq(id, project, task, algorithm, runtimeOf(model),
        Serialization.write(hyperparams.map { case (k, v) => k -> v.toString }),
        Serialization.write(metrics), java.time.Instant.now().toString)))
    metricsCache.put(id, metrics)
    id
  }

  /** Deploy UNLESS the deployed model is strictly better on the task
    * default metric — the reference keeps the old model only when
    * value_is_better(deployed, new) holds (api.rs deploy gating;
    * task.rs:83-89: r2 for regression, f1 for classification — higher is
    * better; silhouette/cev likewise), so a metric TIE deploys the new
    * model. Consequential for warm-start chains, which read the deployed
    * checkpoint as their seed. */
  def maybeDeploy(project: String, task: String, modelId: Long,
      metrics: Map[String, Double]): Boolean = {
    val metricName = defaultMetric(task)
    val current = currentDeployment(project)
    val better = current match {
      case None => true
      case Some(dep) =>
        val prev = modelMetrics(dep.model_id).getOrElse(metricName, Double.NegativeInfinity)
        metrics.getOrElse(metricName, Double.NegativeInfinity) >= prev
    }
    if (better) deploy(project, modelId, "new_score")
    better
  }

  def defaultMetric(task: String): String = task match {
    case "regression" => "r2"
    case "classification" => "f1"
    case "clustering" => "silhouette"
    case "decomposition" => "cumulative_explained_variance"
    // tune tasks (orm/task.rs:46-63) — all higher-is-better, so the
    // strictly-greater comparison in maybeDeploy applies unchanged
    case "text_classification" | "text_pair_classification" => "f1"
    case "conversation" => "bleu"
  }

  def deploy(project: String, modelId: Long, strategy: String): Unit = {
    // one row per deploy — driver-side, zero Spark jobs (DeploymentRow order)
    graft.store.DeltaTable.appendLogFilesLocal(deploymentsPath,
      Seq("project" -> "string", "model_id" -> "long", "strategy" -> "string",
        "created_at" -> "string", "seq" -> "long"),
      Seq(Seq(project, modelId, strategy,
        java.time.Instant.now().toString, System.nanoTime())))
    deployCache.remove(project) // next read resolves the new pointer
  }

  /** Strategy resolver (orm/strategy.rs): pick the model id to deploy. */
  def resolveStrategy(project: String, strategy: String,
      algorithm: Option[String] = None): Option[Long] = strategy match {
    case "best_score" =>
      val metricExpr = get_json_object(col("metrics"), "$." +
        defaultMetric(models.where(col("project") === project)
          .select("task").head().getString(0))).cast("double")
      var m = models.where(col("project") === project)
      algorithm.foreach(a => m = m.where(col("algorithm") === a))
      m.orderBy(metricExpr.desc_nulls_last).select("model_id")
        .as[Long].collect().headOption
    case "most_recent" =>
      var m = models.where(col("project") === project)
      algorithm.foreach(a => m = m.where(col("algorithm") === a))
      m.orderBy(col("model_id").desc).select("model_id").as[Long].collect().headOption
    case "rollback" =>
      deployments.where(col("project") === project)
        .orderBy(col("seq").desc).select("model_id").as[Long].collect()
        .distinct.drop(1).headOption
    case other => throw new IllegalArgumentException(s"unknown strategy $other")
  }

  def currentDeployment(project: String): Option[DeploymentRow] =
    deployCache.get(project).orElse {
      val resolved = deployments.where(col("project") === project)
        .orderBy(col("seq").desc).as[DeploymentRow].collect().headOption
      resolved.foreach(deployCache.put(project, _))
      resolved
    }

  def modelMetrics(modelId: Long): Map[String, Double] =
    metricsCache.get(modelId).getOrElse {
      val m = models.where(col("model_id") === modelId).select("metrics").as[String]
        .collect().headOption
        .map(JsonMethods.parse(_).extract[Map[String, Double]])
      m.foreach(metricsCache.put(modelId, _)) // cache only rows that exist
      m.getOrElse(Map.empty)
    }

  /** `pgml.predict(project, df)` — resolve deployed model, apply stored
    * preprocessing + estimator. Model loading happens once on the driver;
    * the loaded MLlib model broadcasts itself through transform.
    */
  def predict(project: String, df: DataFrame): DataFrame = {
    val dep = currentDeployment(project)
      .getOrElse(throw new IllegalStateException(s"no deployment for project $project"))
    predictWithModel(dep.model_id, df)
  }

  private def cachedModel(modelId: Long): Served =
    modelCache.getOrElseUpdate(modelId, {
      val m = JsonMethods.parse(java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"${modelDir(modelId)}/graft_meta.json")))
        .extract[RegistryMeta]
      new Served(modelId, m, loadModel(m.modelClass, modelDir(modelId)))
    })

  /** A model the registry serves: its fitted columns, its estimator and
    * the row chain [[predictRow]] evaluates, prepared on first use. */
  private final class Served(id: Long, val meta: RegistryMeta,
      val model: org.apache.spark.ml.Transformer) {
    lazy val row: RowChain = RowChain(spark, meta, id, predictWithModel(id, _))
  }

  /** Converged centroids of a stored clustering model (the models-table
    * introspection surface; also what lets the m3 oracle replay the
    * fixed-point assignment in SQL with the centers as literals). */
  def clusterCenters(modelId: Long): Array[Array[Double]] = {
    cachedModel(modelId).model match {
      case km: org.apache.spark.ml.clustering.KMeansModel =>
        km.clusterCenters.map(_.toArray)
      case cm: CentroidModel => cm.centers.map(_.clone())
      case other => throw new IllegalArgumentException(
        s"model $modelId has no cluster centers: ${other.getClass.getName}")
    }
  }

  /** Centroids of the project's DEPLOYED model, with its id — the
    * warm-start seed for continued conversation tuning (the centroid
    * analogue of [[deployedLogisticParams]]). None when the project has
    * no deployment or the deployment is not a centroid family. */
  def deployedCentroids(project: String): Option[(Long, Array[Array[Double]])] =
    currentDeployment(project).flatMap { dep =>
      cachedModel(dep.model_id).model match {
        case km: org.apache.spark.ml.clustering.KMeansModel =>
          Some((dep.model_id, km.clusterCenters.map(_.toArray)))
        case cm: CentroidModel => Some((dep.model_id, cm.centers.map(_.clone())))
        case _ => None
      }
    }

  /** Principal components of a stored PCA model, [k][numFeatures] (row c
    * = component c) — the introspection surface that lets the m6 oracle
    * replay the projection with the components as SQL literals (same role
    * as [[clusterCenters]] for m3). */
  def pcaComponents(modelId: Long): Array[Array[Double]] = {
    val model = cachedModel(modelId).model
    val pc = model.asInstanceOf[org.apache.spark.ml.feature.PCAModel].pc
    Array.tabulate(pc.numCols, pc.numRows)((c, j) => pc(j, c))
  }

  /** (coefficients, intercept) of a stored linear model — the m7/m14/m15
    * oracles' literal source. Serves both the MLlib estimator and the
    * robust-GD head. */
  def linearParams(modelId: Long): (Array[Double], Double) =
    cachedModel(modelId).model match {
      case m: org.apache.spark.ml.regression.LinearRegressionModel =>
        (m.coefficients.toArray, m.intercept)
      case m: GdLinearModel => (m.coefficients.clone(), m.intercept)
      case other => throw new IllegalArgumentException(
        s"model $modelId is not a linear family: ${other.getClass.getName}")
    }

  /** (points, labels, k, classification) of a stored k-NN model — the
    * m13 oracle's literal source (the points in stored order ARE the
    * neighbour tie-break). */
  def knnParams(modelId: Long): (Array[Array[Double]], Array[Double], Int, Boolean) =
    cachedModel(modelId).model match {
      case m: KnnModel => (m.points.map(_.clone()), m.labels.clone(), m.k, m.classification)
      case other => throw new IllegalArgumentException(
        s"model $modelId is not a knn model: ${other.getClass.getName}")
    }

  /** (tree roots, per-tree weights, divisor) of a stored tree ensemble —
    * the m16/m17 oracles' literal source. Prediction =
    * (Σ weightᵢ · treeᵢ(x)) / divisor: a forest averages (weights 1,
    * divisor n — the same sum-then-DIVIDE MLlib computes, which a
    * (1/n)·sum literal would not replay exactly), GBT blends
    * (treeWeights, divisor 1 — x/1.0 ≡ x under IEEE). */
  def treeEnsemble(modelId: Long)
      : (Array[org.apache.spark.ml.tree.Node], Array[Double], Double) =
    cachedModel(modelId).model match {
      case m: org.apache.spark.ml.regression.RandomForestRegressionModel =>
        (m.trees.map(_.rootNode), Array.fill(m.trees.length)(1.0),
          m.trees.length.toDouble)
      case m: org.apache.spark.ml.regression.GBTRegressionModel =>
        (m.trees.map(_.rootNode), m.treeWeights.clone(), 1.0)
      case other => throw new IllegalArgumentException(
        s"model $modelId is not a tree ensemble: ${other.getClass.getName}")
    }

  /** (coefficients, intercept) of a stored BINARY logistic model — the
    * m9/x8 oracles' literal source. Serves both the MLlib estimator and
    * the warm-start head. */
  def logisticParams(modelId: Long): (Array[Double], Double) =
    cachedModel(modelId).model match {
      case m: org.apache.spark.ml.classification.LogisticRegressionModel =>
        (m.coefficients.toArray, m.intercept)
      case m: GdLogisticModel => (m.coefficients.clone(), m.intercept)
      case other => throw new IllegalArgumentException(
        s"model $modelId is not a binary logistic family: ${other.getClass.getName}")
    }

  /** The (RFF frequencies, offsets, input dim, linear-head coefficients,
    * intercept) of a stored kernel-approximation pipeline (svm/nu_svm) —
    * the m12 oracle's literal source. */
  def kernelApproxParams(modelId: Long)
      : (Array[Double], Array[Double], Int, Array[Double], Double) = {
    val pm = cachedModel(modelId).model.asInstanceOf[org.apache.spark.ml.PipelineModel]
    val rff = pm.stages(0).asInstanceOf[RffTransformer]
    val (c, b) = pm.stages(1) match {
      case m: org.apache.spark.ml.classification.LinearSVCModel =>
        (m.coefficients.toArray, m.intercept)
      case m: org.apache.spark.ml.regression.LinearRegressionModel =>
        (m.coefficients.toArray, m.intercept)
      case other => throw new IllegalArgumentException(
        s"model $modelId head is not a linear family: ${other.getClass.getName}")
    }
    (rff.getOrDefault(rff.weights), rff.getOrDefault(rff.offsets),
      rff.getOrDefault(rff.inDim), c, b)
  }

  /** Binary-logistic parameters of the project's DEPLOYED model, with its
    * id — the warm-start seed for continued tuning (api.rs:846-995 tunes
    * the deployed checkpoint). None when the project has no deployment or
    * the deployment is not a binary logistic family (multinomial heads
    * and other estimators fall back to a cold fit). */
  def deployedLogisticParams(project: String): Option[(Long, Array[Double], Double)] =
    currentDeployment(project).flatMap { dep =>
      cachedModel(dep.model_id).model match {
        case m: org.apache.spark.ml.classification.LogisticRegressionModel
            if m.numClasses == 2 =>
          Some((dep.model_id, m.coefficients.toArray, m.intercept))
        case m: GdLogisticModel =>
          Some((dep.model_id, m.coefficients.clone(), m.intercept))
        case _ => None
      }
    }

  /** Assembled feature order of a stored model — the coefficient layout
    * of [[logisticParams]]/[[linearParams]] (the x11 oracle maps each
    * name back to its source expression in THIS order, so the replayed
    * margin folds over the same coefficient-feature pairing the served
    * dot product uses). */
  def featureNames(modelId: Long): Seq[String] = cachedModel(modelId).meta.featNames

  /** Stored preprocessing + feature layout of a model, rehydrated. */
  private[ml] def fittedOf(modelId: Long): (Seq[FittedColumn], Seq[String]) = {
    val meta = cachedModel(modelId).meta
    (meta.fitted.map(j => FittedColumn(
      ColumnPlan(j.name, j.encode, j.ordinalValues, j.impute, j.scale),
      j.categorical, j.categories, j.imputeValue, j.scaleOffset, j.scaleDiv, j.oneHotCats)),
      meta.featNames)
  }

  /** Apply a stored model's preprocessing + feature assembly WITHOUT its
    * estimator — the frame a warm-start fit trains on (the tune relation
    * must pass through the SAME per-column transform the seed
    * coefficients were fit over, or the parameter space would not align). */
  def prepFeatures(modelId: Long, df: DataFrame): DataFrame = {
    val (fitted, featNames) = fittedOf(modelId)
    new VectorAssembler()
      .setInputCols(featNames.toArray).setOutputCol("features")
      .transform(Preprocessor.transform(df, fitted))
  }

  def predictWithModel(modelId: Long, df: DataFrame): DataFrame =
    cachedModel(modelId).model.transform(prepFeatures(modelId, df))

  /** Persist hyperparameter-search results beside the model
    * (search_results JSON, model.rs:794-940): per-combo params,
    * mean/std test score, AND the per-split scores (sklearn's
    * `split{k}_test_score` content the reference records). */
  def attachSearchResults(modelId: Long,
      results: Seq[(Map[String, String], Double, Double, Seq[Double])]): Unit = {
    val json = Serialization.write(results.map { case (params, mean, std, folds) =>
      Map("params" -> params, "mean_test_score" -> mean, "std_test_score" -> std,
        "split_test_scores" -> folds)
    })
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${modelDir(modelId)}/search_results.json"), json)
  }

  def searchResults(modelId: Long): String = {
    val p = java.nio.file.Paths.get(s"${modelDir(modelId)}/search_results.json")
    if (java.nio.file.Files.exists(p)) java.nio.file.Files.readString(p) else "[]"
  }

  /** Typed view of [[searchResults]] — the m10 oracle's literal source. */
  def searchResultRows(modelId: Long): Seq[SearchResultRow] =
    JsonMethods.parse(searchResults(modelId)).extract[Seq[SearchResultRow]]

  /** `pgml.predict_proba`: class-probability array column appended
    * (api.rs:469-472). */
  def predictProba(project: String, df: DataFrame): DataFrame = {
    val out = predict(project, df)
    require(out.columns.contains("probability"), "deployed model has no probability output")
    out.withColumn("proba", VectorOps.toArray(col("probability")))
  }

  /** `pgml.predict_proba(model_id, ...)` — the by-model-id overload
    * (api.rs:505-509): probabilities from a SPECIFIC model, deployed or
    * not (A/B'ing a candidate against the deployment). */
  def predictProbaWithModel(modelId: Long, df: DataFrame): DataFrame = {
    val out = predictWithModel(modelId, df)
    require(out.columns.contains("probability"), s"model $modelId has no probability output")
    out.withColumn("proba", VectorOps.toArray(col("probability")))
  }

  /** `pgml.predict_batch`: flattened feature-array input, one prediction
    * per `numFeatures` slice (api.rs:479-485). */
  def predictBatch(project: String, features: Seq[Double], numFeatures: Int): Seq[Double] = {
    require(features.length % numFeatures == 0, "features not a multiple of numFeatures")
    val dep = currentDeployment(project)
      .getOrElse(throw new IllegalStateException(s"no deployment for project $project"))
    val colsNames = cachedModel(dep.model_id).meta.fitted.map(_.name)
    val rows = features.grouped(numFeatures).map(g => org.apache.spark.sql.Row(g: _*)).toSeq
    val schema = org.apache.spark.sql.types.StructType(colsNames.map(n =>
      org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    predictWithModel(dep.model_id, df).select("prediction").as[Double].collect().toSeq
  }

  /** `pgml.decompose(project, v)` — apply the deployed PCA model
    * (api.rs:487-492): appends a `pca` array column. */
  def decompose(project: String, df: DataFrame): DataFrame = {
    val out = predict(project, df)
    require(out.columns.contains("pca"), "deployed model is not a decomposition model")
    out.withColumn("pca_arr", VectorOps.toArray(col("pca")))
  }

  /** Per-cluster generation table beside a conversation-tuned model — the
    * model-dir sidecar pattern (like search_results.json). */
  def attachResponses(modelId: Long, responses: Map[Int, String]): Unit = {
    val json = Serialization.write(responses.map { case (k, v) => k.toString -> v })
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${modelDir(modelId)}/responses.json"), json)
    responsesCache.put(modelId, Some(responses))
  }

  /** The per-cluster generation table of a conversation-tuned model
    * (responses.json sidecar; empty when none is attached) — the
    * introspection surface the x6 oracle replays generate() against. */
  def storedResponses(modelId: Long): Map[Int, String] =
    responsesOf(modelId).getOrElse(Map.empty)

  private def responsesOf(modelId: Long): Option[Map[Int, String]] =
    responsesCache.getOrElseUpdate(modelId, {
      val p = java.nio.file.Paths.get(s"${modelDir(modelId)}/responses.json")
      if (!java.nio.file.Files.exists(p)) None
      else Some(JsonMethods.parse(java.nio.file.Files.readString(p))
        .extract[Map[String, String]].map { case (k, v) => k.toInt -> v })
    })

  /** `pgml.generate(project, input)` — generation from a tuned project
    * (api.rs:826-844). A conversation-tuned deployment (Trainer.tune task
    * `conversation`) serves its retrieval-generator: embed the input,
    * assign the nearest KMeans centroid DRIVER-SIDE (no Spark job per
    * call — the per-row serving path must not schedule), return the stored
    * cluster reply. Other deployments fall back to the deterministic
    * text-generation stand-in (same gap as transform). */
  def generate(project: String, input: String): String =
    generateBatch(project, Seq(input)).head

  /** `pgml.generate(project, input)` / `pgml.generate_batch(project,
    * inputs[])` (api.rs:826-844): ONE deployment/model resolve for the
    * whole batch — the resolve cost amortizes exactly like the
    * reference's single `Project::get_deployed_model_id` call — then the
    * per-input serving loop (driver-side centroid assign for tuned
    * conversation projects, no Spark job per call; text-generation
    * stand-in fallback otherwise). */
  def generateBatch(project: String, inputs: Seq[String]): Seq[String] = {
    val dep = currentDeployment(project)
      .getOrElse(throw new IllegalStateException(s"no deployment for project $project"))
    responsesOf(dep.model_id) match {
      case Some(responses) =>
        val served = cachedModel(dep.model_id)
        // one assignment rule for both families: left-assoc squared
        // distance, first-minimum tie-break (CentroidModel.assign — the
        // warm-started head reuses the identical code path)
        val assigner = served.model match {
          case km: org.apache.spark.ml.clustering.KMeansModel =>
            new CentroidModel(km.clusterCenters.map(_.toArray))
          case cm: CentroidModel => cm
          case other => throw new IllegalStateException(
            s"deployed conversation model is not a centroid family: ${other.getClass.getName}")
        }
        val dim = served.meta.featNames.length
        val emb = graft.functions.HashEmbedder(dim)
        inputs.map { input =>
          val cluster = assigner.assign(
            emb.embedOne(input).map(_.toDouble).toIndexedSeq)
          responses.getOrElse(cluster, "")
        }
      case None =>
        inputs.map(graft.operators.TaskModels.run("text-generation", _,
          Map("max_new_tokens" -> "16")))
    }
  }

  /** `pgml.predict(project, row(...))` — the heterogeneous tuple entry
    * (api.rs:494-497; model.rs:972-1143 predict_row semantics): a named
    * mixed-type row goes through the SAME per-column preprocessing as batch
    * predict — categorical lookup against fitted categories (NULL →
    * `__NULL__` → 0, unseen → NaN → impute), numeric impute + scale — then
    * the deployed estimator. Missing keys are NULLs, matching a SQL row()
    * with NULL fields.
    *
    * The first call on a model prepares it once: the analyzed Project
    * chain of `predictWithModel(id, <empty frame>).select("prediction")`
    * over the fitted schema (categoricals as strings, numerics as
    * doubles). A call then evaluates that chain interpreted on its one
    * row — the expressions the optimizer folds a one-row local relation
    * with, so the bits are `predictWithModel(...).head()`'s — and runs 0
    * Spark jobs, with no Catalyst analysis or planning. A model whose plan
    * is not a chain of Projects over its input is refused.
    */
  def predictRow(project: String, row: Map[String, Any]): Double = {
    val dep = currentDeployment(project)
      .getOrElse(throw new IllegalStateException(s"no deployment for project $project"))
    val s = cachedModel(dep.model_id)
    // any input datum is stringified for a categorical lookup
    // (model.rs:1009-1090); numerics arrive as doubles
    val out = s.row(s.meta.fitted.map { f =>
      row.get(f.name).flatMap(Option(_)) match {
        case None => null
        case Some(v) if f.categorical => UTF8String.fromString(v.toString)
        case Some(v: Number) => v.doubleValue()
        case Some(v: Boolean) => if (v) 1.0 else 0.0
        case Some(v) => v.toString.toDouble
      }
    })
    out match {
      case n: Number => n.doubleValue()
      case other => throw new IllegalStateException(
        s"model ${dep.model_id} predicted $other, not a number")
    }
  }

  /** `pgml.dump_all` / `load_all` — registry tables to/from CSV
    * (api.rs:1028-1074). */
  // escape = the quote char: Spark's default CSV dialect backslash-escapes
  // embedded quotes, which standard RFC-4180 readers (the reference dumps
  // via COPY ... CSV, api.rs:1029-1049; DuckDB; Excel) misparse on the
  // hyperparams/metrics JSON columns — doubling the quote is the portable
  // form, and m19's oracle has DuckDB parse the dump independently
  def dumpAll(path: String): Unit = {
    models.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true")
      .option("escape", "\"").csv(s"$path/models_csv")
    deployments.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true")
      .option("escape", "\"").csv(s"$path/deployments_csv")
    splitters.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true")
      .option("escape", "\"").csv(s"$path/splitters_csv")
  }
  def loadAll(path: String): (DataFrame, DataFrame) = (
    spark.read.option("header", "true").option("inferSchema", "true")
      .option("escape", "\"").csv(s"$path/models_csv"),
    spark.read.option("header", "true").option("inferSchema", "true")
      .option("escape", "\"").csv(s"$path/deployments_csv"))

  /** The splitters leg of [[loadAll]] (kept separate so the two-table
    * return shape callers rely on is unchanged). */
  def loadSplitters(path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true")
      .option("escape", "\"").csv(s"$path/splitters_csv")

  private def loadModel(className: String, path: String): org.apache.spark.ml.Transformer = {
    val clazz = Class.forName(className + "$") // companion object
    val companion = clazz.getField("MODULE$").get(null)
    companion.asInstanceOf[org.apache.spark.ml.util.MLReadable[_]]
      .load(path).asInstanceOf[org.apache.spark.ml.Transformer]
  }

}

final case class ModelRow(model_id: Long, project: String, task: String,
    algorithm: String, runtime: String, hyperparams: String, metrics: String,
    created_at: String)
final case class DeploymentRow(project: String, model_id: Long, strategy: String,
    created_at: String, seq: Long)
final case class SplitterRow(id: Long, name: String, parameters: String,
    project_id: Long, created_at: String)
final case class RegistryMeta(modelClass: String, featNames: Seq[String],
    fitted: Seq[FittedColumnJson])
final case class SearchResultRow(params: Map[String, String],
    mean_test_score: Double, std_test_score: Double, split_test_scores: Seq[Double])
final case class FittedColumnJson(name: String, encode: String,
    ordinalValues: Seq[String], impute: String, scale: String,
    categorical: Boolean, categories: Map[String, Double], imputeValue: Double,
    scaleOffset: Double, scaleDiv: Double, oneHotCats: Seq[String])

/** [[Registry.predictRow]]'s prepared evaluation: the Project chain of a
  * model's prediction over a one-row input, bottom Project first, each
  * with the attributes its child outputs. */
private[ml] final class RowChain(steps: Seq[(Seq[NamedExpression], Seq[Attribute])]) {
  private val dataType = steps.last._1.head.dataType

  // evaluators no call is using, each over its own copy of the chain: a
  // call takes one (or makes one) and gives it back, so concurrent calls
  // never share evaluator state, and an evaluator's UDF converters are
  // built on its first call only
  private val idle =
    new java.util.concurrent.ConcurrentLinkedQueue[Seq[InterpretedMutableProjection]]()

  /** The prediction for an input row of Catalyst values. */
  def apply(values: Seq[Any]): Any = {
    val chain = Option(idle.poll()).getOrElse(steps.map { case (exprs, input) =>
      new InterpretedMutableProjection(exprs.map(ColumnBridge.ownCopy), input)
    })
    try chain.foldLeft(InternalRow.fromSeq(values)) { (row, p) =>
      p.initialize(0)
      p(row)
    }.get(0, dataType)
    finally idle.offer(chain)
  }
}

private[ml] object RowChain {
  /** Model `id`'s chain: `predict` (the model applied to a frame of the
    * fitted schema) over an empty frame, `select("prediction")`, analyzed,
    * with runtime-replaceable expressions swapped for the ones they stand
    * for. */
  def apply(spark: SparkSession, meta: RegistryMeta, id: Long,
      predict: DataFrame => DataFrame): RowChain = {
    val schema = StructType(meta.fitted.map(f =>
      StructField(f.name, if (f.categorical) StringType else DoubleType, nullable = true)))
    val plan = ReplaceExpressions(predict(
      ColumnBridge.resultFrame(spark, new ColumnBridge.ResultShape(schema), Nil))
      .select("prediction").queryExecution.analyzed)
    def steps(p: LogicalPlan): List[Project] = p match {
      case pr @ Project(list, child) if !list.exists(_.exists(e =>
          e.isInstanceOf[Unevaluable] && !e.isInstanceOf[AttributeReference])) => pr :: steps(child)
      case _: LocalRelation => Nil
      case other => throw new IllegalStateException(s"model $id does not predict through " +
        s"a chain of evaluable Projects over its input: ${other.nodeName}")
    }
    new RowChain(steps(plan).reverse.map(p => (p.projectList, p.child.output)))
  }
}
