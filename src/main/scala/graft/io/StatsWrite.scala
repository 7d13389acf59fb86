package graft.io

import scala.collection.mutable

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, EmptyRow, Expression, JoinedRow, MutableProjection, NamedExpression, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructField, StructType}

/** A parquet write that also returns per-FILE aggregates, computed
  * inside the writing tasks — no second scan of what was just written.
  * The files are Spark's own (`ParquetFileFormat`, the session's commit
  * protocol, `maxRecordsPerFile` honored: what `df.write.parquet(dir)`
  * produces); the aggregates ride on the `WriteJobStatsTracker` hook
  * Spark's `BasicWriteJobStatsTracker` uses — the same pattern as Delta
  * Lake's job statistics tracker.
  */
private[io] object StatsWrite {

  /** Write `df` under `dir` and return, per written file NAME, the row
    * of `aggs` (aggregate columns, as for `df.agg`) over that file's
    * rows. `aggs` are declarative aggregates (count, min, max, sum, …)
    * under any scalar expression, analyzed against `df` itself, so
    * their semantics — casts, time zone, NaN/null ordering — are
    * Spark's; a file's row is evaluated when the file closes. A task
    * that writes an empty file reports it with its aggregates over zero
    * rows. */
  def parquet(df: DataFrame, dir: String, aggs: Seq[Column]): Map[String, Row] = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    val cols = qe.analyzed.output
    val outs = ReplaceExpressions(df.agg(aggs.head, aggs.tail: _*)
      .queryExecution.analyzed).asInstanceOf[Aggregate].aggregateExpressions
    val tracker = new FileAggTracker(cols, outs)
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID().toString, dir)
    SQLExecution.withNewExecutionId(qe, Some("graft pool write")) {
      FileFormatWriter.write(spark, qe.executedPlan, new ParquetFileFormat,
        committer, FileFormatWriter.OutputSpec(dir, Map.empty, cols),
        spark.sessionState.newHadoopConf(), Nil, None, Seq(tracker), Map.empty)
    }
    val toRow = CatalystTypeConverters.createToScalaConverter(
      StructType(outs.map(e => StructField(e.name, e.dataType, e.nullable))))
    tracker.results.map { case (f, r) => f -> toRow(r).asInstanceOf[Row] }
  }

  /** Job half: ships `outputs` (expressions over declarative aggregates,
    * resolved against the written attributes `dataCols`) to every task
    * and gathers the tasks' per-file results for the caller. */
  private final class FileAggTracker(dataCols: Seq[Attribute],
                                     outputs: Seq[NamedExpression])
    extends WriteJobStatsTracker {
    @transient @volatile private var collected = Map.empty[String, InternalRow]
    def results: Map[String, InternalRow] = collected
    override def newTaskInstance(): WriteTaskStatsTracker =
      new FileAggTask(dataCols, outputs)
    override def processStats(stats: Seq[WriteTaskStats],
                              jobCommitTime: Long): Unit =
      collected = stats.flatMap(_.asInstanceOf[FileAggs].byName).toMap
  }

  private final case class FileAggs(byName: Seq[(String, InternalRow)])
    extends WriteTaskStats

  /** Task half: one aggregation buffer per open file, initialized,
    * updated per written row and evaluated with the aggregates' own
    * `initialValues` / `updateExpressions` / `evaluateExpression`. */
  private final class FileAggTask(dataCols: Seq[Attribute],
                                  outputs: Seq[NamedExpression])
    extends WriteTaskStatsTracker {
    private val aggs: Seq[DeclarativeAggregate] = outputs.flatMap(_.collect {
      case ae: AggregateExpression =>
        ae.aggregateFunction.asInstanceOf[DeclarativeAggregate]
    })
    private val bufAttrs = aggs.flatMap(_.aggBufferAttributes)
    private val init = MutableProjection.create(aggs.flatMap(_.initialValues), Nil)
    private val update =
      MutableProjection.create(aggs.flatMap(_.updateExpressions), bufAttrs ++ dataCols)
    private val result = UnsafeProjection.create(
      outputs.map(_.transform { case ae: AggregateExpression =>
        ae.aggregateFunction.asInstanceOf[DeclarativeAggregate].evaluateExpression
      }: Expression), bufAttrs)
    private val open = mutable.HashMap.empty[String, SpecificInternalRow]
    private val done = mutable.ArrayBuffer.empty[(String, InternalRow)]
    private val joined = new JoinedRow

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit = {
      val buf = new SpecificInternalRow(bufAttrs.map(_.dataType))
      init.target(buf).apply(EmptyRow)
      open(filePath) = buf
    }

    // (a mutable projection copies every string it stores, so a min/max
    // never points into the writer's reused row)
    override def newRow(filePath: String, row: InternalRow): Unit = {
      val buf = open(filePath)
      update.target(buf).apply(joined(buf, row))
    }

    override def closeFile(filePath: String): Unit =
      open.remove(filePath).foreach { buf =>
        done += (new org.apache.hadoop.fs.Path(filePath).getName -> result(buf).copy())
      }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
      open.keys.toSeq.foreach(closeFile)
      FileAggs(done.toSeq)
    }
  }
}
