package graft.store

import scala.collection.concurrent.TrieMap
import scala.reflect.ClassTag

import org.apache.spark.{SparkThrowable, TaskContext}
import org.apache.spark.rdd.{RDD, UnionRDD}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, LeafExpression,
  Literal, Predicate, Unevaluable, UnresolvedNamedLambdaVariable}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType,
  StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.IndexStore

/** A table home's resolved read of `cols`, planned once per file listing:
  * the physical RDD of `table` (a [[DeltaTable.read]]) projected to the
  * columns a caller looks up or scores, with its manifest/committed-segment
  * resolution, file listing, codegen and Hadoop-conf broadcast fixed at
  * plan time. Key lookups and scans over it are one `runJob` each of a
  * named task, so no closure is cleaned. The Columns a caller scores or
  * filters the rows with ([[value]], [[predicate]]) are analyzed once per
  * shape and kept with the plan, so a warm call runs no Catalyst rule
  * either.
  *
  * The rows of a local home's plan stay resident: each row is copied out
  * of the scan and the RDD is persisted `MEMORY_ONLY`, so a warm lookup or
  * scan iterates decoded rows from the block manager and opens no file
  * (Spark's storage status lists the RDD as `snapshot read (<cols>) of
  * <home>`). A partition that did not fit in storage memory, or was
  * evicted, is recomputed from the planned files as it is read. Dropping
  * a plan (its home's listing changed, [[IndexStore.invalidate]], or
  * [[SnapshotRead.consistent]]'s re-plan) unpersists its RDD, so the
  * blocks of a retired snapshot go with it. A non-local home is planned on
  * every call and nothing of it is persisted: an RDD per call would pile
  * up in the block manager.
  *
  * A publish that swaps the home's files (a compaction, a merge, a full
  * rewrite) can land between the listing check that handed out this
  * reader and a lookup's or scan's job; a job that must read a planned
  * file (a first read, or a partition not resident) then finds it gone.
  * The call ([[SnapshotRead.consistent]]) drops every reader of its homes,
  * plans them afresh on the new listings and runs once more — so it reads
  * the snapshot published last, never a subset of one. */
private[store] final class SnapshotRead private (
    private val home: String, private val cols: Seq[String], private val table: () => DataFrame,
    private[store] val plan: SnapshotRead.Plan) {

  def schema: StructType = plan.schema

  /** Rows whose `keyCols` equal one of `keys` (Scala values: String, Int,
    * Long, …), each a copy of its own, in partition order. One Spark job,
    * or two plus the re-plan when a publish moved the files. */
  def lookup(keyCols: Seq[String], keys: Iterable[Seq[Any]]): Array[InternalRow] =
    SnapshotRead.consistent(IndexedSeq(this))(_.head.lookupOnce(keyCols, keys))

  /** [[lookup]] without the retry: a publish that moved the files fails
    * it. For a call of several jobs, inside [[SnapshotRead.consistent]]. */
  def lookupOnce(keyCols: Seq[String], keys: Iterable[Seq[Any]]): Array[InternalRow] =
    if (keys.isEmpty) Array.empty
    else {
      val ords = keyCols.map(schema.fieldIndex).toArray
      SnapshotRead.scan(IndexedSeq(this), _ => true)(SnapshotRead.keep(ords,
        ords.map(schema(_).dataType), keys.map(_.map(CatalystTypeConverters.convertToCatalyst)).toSet))
        .head.flatten
    }

  /** This read planned on the home's current files. */
  private def replanned: SnapshotRead = SnapshotRead(home, cols)(table())

  /** `cond` (a Column over this read's columns) as a predicate on the rows
    * [[lookup]] returns: `where(cond)`'s verdict with no query execution
    * and no code generation, bound once per shape of `cond` (see
    * [[SnapshotRead.Plan.bind]]). */
  def predicate(spark: SparkSession, cond: Column): InternalRow => Boolean = {
    val p = Predicate.createInterpreted(plan.bind(spark, cond, filter = true))
    p.initialize(0)
    p.eval
  }

  /** `v` (a Column over this read's columns) bound to the rows this read's
    * lookups and scans give, for interpreted `eval`: the value
    * `select(v)` computes for the row, with no query execution, bound
    * once per shape of `v` (see [[SnapshotRead.Plan.bind]]).
    * Serializable, so a scan's tasks can evaluate it. */
  def value(spark: SparkSession, v: Column): Expression = plan.bind(spark, v, filter = false)
}

private[store] object SnapshotRead {

  // home → (listing fingerprint, projected columns → plan): the residency
  // layer the index handles use, checked against the home's listing on
  // every serve; a listing change drops every projection of the home and
  // unpersists its rows
  private val reads = new IndexStore.Family[TrieMap[Seq[String], Plan]]("snapshot-reads", 1)(
    _.values.foreach(_.release()))

  /** The resident reader of `cols` of a local `home`, re-planned from
    * `table` when the home's listing changed since it was planned. A
    * non-local home has no listing to check, so it is planned on every
    * call, never stale, and its rows are not kept. */
  def apply(home: String, cols: Seq[String])(table: => DataFrame): SnapshotRead = {
    def prepare(resident: Boolean): Plan = {
      val frame = table.select(cols.head, cols.tail: _*)
      val rows = frame.queryExecution.toRdd.map(CopyRow)
      new Plan(frame.schema, if (!resident) rows
        else rows.setName(s"snapshot read ${cols.mkString("(", ", ", ")")} of $home")
          .persist(StorageLevel.MEMORY_ONLY))
    }
    val plan = if (!DeltaTable.isLocal(home)) prepare(resident = false) else {
      val plans = reads.serveFixed(home)(TrieMap.empty)
      plans.getOrElse(cols, {
        val fresh = prepare(resident = true)
        plans.putIfAbsent(cols, fresh).fold(fresh) { won => fresh.release(); won }
      })
    }
    new SnapshotRead(home, cols, () => table, plan)
  }

  /** Field `i` of a looked-up row as a String (null stays null). */
  def string(r: InternalRow, i: Int): String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString

  /** A scanned row as a copy of its own (scans reuse their row buffers). A
    * named class, so planning cleans no closure for it. */
  private object CopyRow extends (InternalRow => InternalRow) with Serializable {
    override def apply(r: InternalRow): InternalRow = r.copy()
  }

  /** A [[scan]]'s per-partition work: `run(i, rows)` on a partition of the
    * `i`-th read. */
  abstract class Scan[U] extends Serializable {
    def run(read: Int, rows: Iterator[InternalRow]): U
  }

  /** `body` over `reads`, all its jobs on one snapshot: when a publish
    * beat one of them to the files, every read's home is dropped and
    * `body` runs once more, from the start, on fresh plans of all of
    * `reads` — so no job of the call reads files older than another's. */
  def consistent[T](reads: IndexedSeq[SnapshotRead])(body: IndexedSeq[SnapshotRead] => T): T =
    try body(reads)
    catch {
      case e: Exception if missingFile(e) =>
        reads.map(_.home).distinct.foreach(IndexStore.invalidate)
        body(reads.map(_.replanned))
    }

  /** One Spark job over the partitions of the reads `wanted` picks, all
    * of `reads` at once (their RDDs unioned): `task` runs on each, and the
    * results come back per read, in partition order (empty for a read not
    * wanted). No retry: run it inside [[consistent]]. */
  def scan[U: ClassTag](reads: IndexedSeq[SnapshotRead], wanted: Int => Boolean)(
      task: Scan[U]): IndexedSeq[Array[U]] = {
    val rdds = reads.map(_.plan.rdd)
    val readOf = rdds.indices.flatMap(i => Array.fill(rdds(i).partitions.length)(i)).toArray
    val sc = rdds.head.sparkContext
    val parts = readOf.indices.filter(p => wanted(readOf(p)))
    val out = if (parts.isEmpty) Array.empty[U]
      else sc.runJob(new UnionRDD(sc, rdds), new ScanJob(readOf, task), parts)
    val byRead = parts.map(readOf).zip(out).groupMap(_._1)(_._2)
    reads.indices.map(i => byRead.get(i).fold(Array.empty[U])(_.toArray))
  }

  /** A scan's task: `task` on the partition with its read's index. A
    * named class, so the job's closure cleaning has nothing to walk. */
  private final class ScanJob[U](readOf: Array[Int], task: Scan[U])
      extends ((TaskContext, Iterator[InternalRow]) => U) with Serializable {
    override def apply(ctx: TaskContext, rows: Iterator[InternalRow]): U =
      task.run(readOf(ctx.partitionId()), rows)
  }

  /** A scan found a file of its plan gone. */
  private def missingFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case t: SparkThrowable => t.getCondition == "FAILED_READ_FILE.FILE_NOT_EXIST"
      case _: java.io.FileNotFoundException => true
      case _ => false
    }

  /** The resident part: the physical RDD of copied rows and its schema,
    * and the bindings of the Columns evaluated over its rows, one per
    * shape. */
  private[store] final class Plan(val schema: StructType, val rdd: RDD[InternalRow]) {

    private val bindings = TrieMap.empty[(Boolean, Expression), Binding]

    /** Drop the resident rows, without waiting for their blocks to go. A
      * task of a call still in flight may cache a partition again; Spark's
      * context cleaner drops it once the RDD is unreachable. */
    def release(): Unit = { rdd.unpersist(blocking = false); () }

    /** `c` analyzed over this schema as `where(c)` (`filter`) or
      * `select(c)` would analyze it, with runtime-replaceable expressions
      * swapped for the ones they stand for, bound to the rows — what the
      * planned query evaluates, ready to run interpreted. The analysis
      * runs once per shape of `c` (see [[shape]]); a later call with the
      * same shape puts its own literals into its own copy of the bound
      * tree, so no two calls share evaluator state. */
    def bind(spark: SparkSession, c: Column, filter: Boolean): Expression = {
      val e = ColumnBridge.converted(spark, c)
      val lits = e.collect { case l: Literal => l }.toIndexedSeq
      val key = shape(filter, e)
      val b = bindings.getOrElse(key, {
        val fresh = new Binding(analyzed(spark, e, filter), lits)
        if (fresh.reusable && bindings.size < MaxShapes) bindings.putIfAbsent(key, fresh)
        fresh
      })
      b.instance(lits)
    }

    /** `e` over an empty relation of this schema, analyzed, replaced and
      * bound. `e` goes into the plan as it is, so the bound tree holds
      * `e`'s own literal instances wherever analysis kept them. */
    private def analyzed(spark: SparkSession, e: Expression, filter: Boolean): Expression = {
      val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      val col = ColumnBridge.column(e)
      ReplaceExpressions((if (filter) empty.where(col) else empty.select(col))
        .queryExecution.analyzed) match {
        case Filter(cond, child) if filter => BindReferences.bindReference(cond, child.output)
        case Project(Seq(v), child) if !filter =>
          BindReferences.bindReference(v match { case a: Alias => a.child; case o => o },
            child.output)
        case other => throw new IllegalStateException(s"unexpected bound plan $other")
      }
    }
  }

  /** Past this many shapes a read binds new ones per call: the memo of a
    * long-lived read stays bounded however many filters callers invent. */
  private val MaxShapes = 256

  /** `e`'s shape as a `where` (`filter`) or a `select` binding: the tree
    * with each literal's value dropped and its type kept, and lambda
    * variables named by order of appearance (the Column API names each one
    * afresh). A null or integral literal keeps its value: analysis sizes a
    * decimal comparison by an integral one. */
  private def shape(filter: Boolean, e: Expression): (Boolean, Expression) = {
    val names = scala.collection.mutable.HashMap.empty[Seq[String], Seq[String]]
    filter -> e.transformUp {
      case l: Literal if !pinned(l) => ShapeSlot(l.dataType)
      case v: UnresolvedNamedLambdaVariable =>
        UnresolvedNamedLambdaVariable(names.getOrElseUpdate(v.nameParts, Seq(s"v${names.size}")))
    }
  }

  /** `l`'s value stays in its [[shape]]. */
  private def pinned(l: Literal): Boolean = l.value == null || (l.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  })

  /** A literal of type `dataType` in a [[shape]]. */
  private final case class ShapeSlot(dataType: DataType) extends LeafExpression with Unevaluable {
    override def nullable: Boolean = false
  }

  /** A shape's bound tree, analyzed from an expression whose literals in
    * pre-order are `lits`; where analysis kept one of them, it sits in
    * `bound` as the same instance. */
  private final class Binding(bound: Expression, lits: IndexedSeq[Literal]) {
    private val slots = new java.util.IdentityHashMap[Literal, Integer]()
    lits.indices.reverse.foreach(i => slots.put(lits(i), i))

    /** Analysis kept every literal whose value the shape drops, so another
      * call's literals can take their place. */
    val reusable: Boolean = lits.forall(l => pinned(l) || bound.exists(_ eq l))

    /** The bound tree with `call` (the caller's literals in pre-order) in
      * place of the analyzed ones, as a copy of its own. */
    def instance(call: IndexedSeq[Literal]): Expression = ColumnBridge.ownCopy(bound.transform {
      case l: Literal if slots.containsKey(l) => call(slots.get(l))
    })
  }

  /** The lookup's task: keep the rows whose key columns are in `keys`.
    * The rows are the read's own copies, so they are kept as they come. A
    * key of one long or string column is tested on the column itself, with
    * no per-row key tuple and no boxing. */
  private def keep(ords: Array[Int], types: Array[DataType], keys: Set[Seq[Any]])
      : Scan[Array[InternalRow]] = {
    val nulls = keys.contains(Seq(null))
    if (ords.length == 1 && types(0) == LongType)
      new KeepLongs(ords(0), keys.iterator.collect { case Seq(l: Long) => l }.toArray.sorted, nulls)
    else if (ords.length == 1 && types(0).isInstanceOf[StringType]) {
      val strings = new java.util.HashSet[UTF8String]()
      keys.foreach { case Seq(u: UTF8String) => strings.add(u); case _ => }
      new KeepStrings(ords(0), strings, nulls)
    } else new KeepKeys(ords, types, keys)
  }

  private abstract class Keep extends Scan[Array[InternalRow]] {
    protected def kept(r: InternalRow): Boolean
    override def run(read: Int, rows: Iterator[InternalRow]): Array[InternalRow] =
      rows.filter(kept).toArray
  }

  /** One long key column, against the sorted keys. */
  private final class KeepLongs(ord: Int, sorted: Array[Long], nulls: Boolean) extends Keep {
    override protected def kept(r: InternalRow): Boolean =
      if (r.isNullAt(ord)) nulls else java.util.Arrays.binarySearch(sorted, r.getLong(ord)) >= 0
  }

  /** One string key column, against a hash set of the keys. */
  private final class KeepStrings(ord: Int, keys: java.util.HashSet[UTF8String], nulls: Boolean)
      extends Keep {
    override protected def kept(r: InternalRow): Boolean =
      if (r.isNullAt(ord)) nulls else keys.contains(r.getUTF8String(ord))
  }

  /** Any other key, as the tuple of its columns' values. */
  private final class KeepKeys(ords: Array[Int], types: Array[DataType], keys: Set[Seq[Any]])
      extends Keep {
    override protected def kept(r: InternalRow): Boolean =
      keys.contains(ords.indices.map(i => r.get(ords(i), types(i))))
  }
}
