package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, InputAdapter,
  ProjectExec, SparkPlan, SQLExecutionRDD, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileScanRDD}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.vectorized.ColumnarBatch

/**
 * A parquet scan's column batches at any width. Spark plans a file scan
 * columnar only up to `spark.sql.codegen.maxFields` columns; past that
 * the vectorized reader hands its batches out row by row. The reader
 * itself returns batches at any width once asked to, so this reads the
 * scan's own file partitions, in the scan's order, through a reader
 * built with batches on; no session setting is written for it.
 */
object ParquetBatches {

  /** `plan` as (expressions, scan output, batches) when it is a
    * projection over a parquet file scan without data filters or
    * metadata columns, or the bare scan: the projection's expressions
    * (the scan's output for the bare scan) are bound to the scan output,
    * and batch partition i holds the rows partition i of `plan` reads,
    * in the same order. Whole-stage codegen, input adapters and
    * column-to-row transitions are looked through. */
  def unapply(plan: SparkPlan): Option[(Seq[NamedExpression], Seq[Attribute], RDD[ColumnarBatch])] = {
    val (exprs, below) = strip(plan) match {
      case ProjectExec(list, child) => (list, strip(child))
      case other => (other.output, other)
    }
    below match {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[ParquetFileFormat] &&
          s.dataFilters.isEmpty && s.relation.fileFormat.supportBatch(s.session, s.schema) =>
        s.inputRDD match {
          case rows: FileScanRDD if rows.metadataColumns.isEmpty =>
            val r = s.relation
            val read = r.fileFormat.buildReaderWithPartitionValues(s.session, r.dataSchema,
              r.partitionSchema, s.requiredSchema, Nil, // no data filter: none pushed
              r.options + (FileFormat.OPTION_RETURNING_BATCH -> "true"),
              s.session.sessionState.newHadoopConfWithOptions(r.options))
            val batches = new FileScanRDD(s.session, read, rows.filePartitions, rows.readSchema,
              Nil, Map.empty, new FileSourceOptions(CaseInsensitiveMap(r.options)))
            // the reader's batches travel as the row RDD's elements
            Some((exprs, s.output,
              new SQLExecutionRDD(batches, s.session.sessionState.conf).asInstanceOf[RDD[ColumnarBatch]]))
          case _ => None
        }
      case _ => None
    }
  }

  private def strip(plan: SparkPlan): SparkPlan = plan match {
    case w: WholeStageCodegenExec => strip(w.child)
    case i: InputAdapter => strip(i.child)
    case c: ColumnarToRowExec => strip(c.child)
    case other => other
  }
}
