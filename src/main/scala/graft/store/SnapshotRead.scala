package graft.store

import org.apache.spark.{SparkThrowable, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Predicate}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.IndexStore

/** A table home's resolved read, planned once per file listing: the
  * physical RDD of `frame` (a [[DeltaTable.read]] projected to the columns
  * a caller looks up), with its manifest/committed-segment resolution,
  * file listing, codegen and Hadoop-conf broadcast fixed at plan time.
  * Key lookups over it are one `runJob` each with no Analyzer, planner or
  * closure-cleaning work. Nothing is persisted: a dropped reader holds no
  * blocks, so retiring one can never pull data from under a lookup in
  * flight.
  *
  * A publish that swaps the home's files (a compaction, a merge, a full
  * rewrite) can land between the listing check that handed out this
  * reader and a lookup's scan; the scan then finds a planned file gone.
  * The lookup drops the home's reader, plans `frame` afresh on the new
  * listing and runs once more — so it reads the snapshot published last,
  * never a subset of one. */
private[store] final class SnapshotRead private (
    home: String, frame: () => DataFrame, private[store] val plan: SnapshotRead.Plan) {

  def schema: StructType = plan.schema

  /** Rows whose `keyCols` equal one of `keys` (Scala values: String, Int,
    * Long, …), copied, in partition order. One Spark job, or two plus the
    * re-plan when a publish moved the files. */
  def lookup(keyCols: Seq[String], keys: Iterable[Seq[Any]]): Array[InternalRow] =
    if (keys.isEmpty) Array.empty
    else try plan.lookup(keyCols, keys)
    catch {
      case e: Exception if SnapshotRead.missingFile(e) =>
        SnapshotRead.invalidate(home)
        SnapshotRead(home)(frame()).plan.lookup(keyCols, keys)
    }

  /** `cond` (a Column over this read's columns) as a predicate on the rows
    * [[lookup]] returns: analyzed over an empty relation of this schema
    * and evaluated interpreted, so `where(cond)`'s verdict with no query
    * execution and no code generation. */
  def predicate(spark: SparkSession, cond: Column): InternalRow => Boolean =
    ReplaceExpressions(spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .where(cond).queryExecution.analyzed) match {
      case Filter(c, child) =>
        val p = Predicate.createInterpreted(BindReferences.bindReference(c, child.output))
        p.initialize(0)
        p.eval
      case other => throw new IllegalStateException(s"unexpected filter plan $other")
    }
}

private[store] object SnapshotRead {

  // home → (listing fingerprint, plan): the residency layer the index
  // handles use, checked against the home's listing on every serve
  private val reads = new IndexStore.Family[Plan]("snapshot-reads", 1)(_ => ())

  /** The resident reader of a local `home`, re-planned from `frame` when
    * the home's listing changed since it was planned. A non-local home has
    * no listing to check, so it is planned on every call: never stale. */
  def apply(home: String)(frame: => DataFrame): SnapshotRead =
    new SnapshotRead(home, () => frame,
      if (DeltaTable.isLocal(home)) reads.serveFixed(home)(prepare(frame))
      else prepare(frame))

  /** Field `i` of a looked-up row as a String (null stays null). */
  def string(r: InternalRow, i: Int): String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString

  /** Drop `home`'s plan: the next serve plans the home afresh. */
  private[store] def invalidate(home: String): Unit = reads.invalidate(home)

  private def prepare(frame: DataFrame): Plan = new Plan(frame.schema, frame.queryExecution.toRdd)

  /** A scan found a file of its plan gone. */
  private def missingFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case t: SparkThrowable => t.getCondition == "FAILED_READ_FILE.FILE_NOT_EXIST"
      case _: java.io.FileNotFoundException => true
      case _ => false
    }

  /** The resident part: the physical RDD and its schema. */
  private[store] final class Plan(val schema: StructType, rdd: RDD[InternalRow]) {
    def lookup(keyCols: Seq[String], keys: Iterable[Seq[Any]]): Array[InternalRow] = {
      val want = keys.map(_.map(CatalystTypeConverters.convertToCatalyst)).toSet
      val ords = keyCols.map(schema.fieldIndex).toArray
      rdd.sparkContext.runJob(rdd,
        new KeepKeys(ords, ords.map(schema(_).dataType), want), rdd.partitions.indices).flatten
    }
  }

  /** The lookup's task: keep the rows whose key columns are in `keys`,
    * copied (scans reuse their row buffers). A named class, so the job's
    * closure cleaning has nothing to walk. */
  private final class KeepKeys(ords: Array[Int], types: Array[DataType], keys: Set[Seq[Any]])
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
    override def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
      rows.filter(r => keys.contains(ords.indices.map(i => r.get(ords(i), types(i)))))
        .map(_.copy()).toArray
  }
}
