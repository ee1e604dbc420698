package graft.sources

import java.io.InputStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.types.{DataType, NullType, StringType, StructType}
import graft.operators.Preprocess.column

/**
 * Input readers mirroring the reference's format handling
 * (/root/reference/src/polars_mas/config.py:110-121): parquet, csv,
 * tsv, txt (tab-delimited), with user-supplied null markers.
 *
 * Parquet carries nulls in the schema; the delimited readers accept a
 * list of null markers, and every marker nulls its exact text in every
 * column before types are inferred, as the reference's `null_values`
 * does.
 */
object Sources {

  def read(spark: SparkSession, path: String, nullValues: Seq[String] = Nil): DataFrame =
    path.split('.').last.toLowerCase match {
      case "parquet" => spark.read.parquet(path)
      case "csv" => delimited(spark, path, ",", nullValues)
      case "tsv" | "txt" => delimited(spark, path, "\t", nullValues)
      case other => throw new IllegalArgumentException(s"Unsupported input file format: .$other")
    }

  /**
   * PheCode definitions loader (reference constants.py:6-16): reads a
   * user-pointed copy of the public PheWAS-catalog CSV
   * (phecode_definitions1.2.csv layout) and selects the five
   * annotation columns. The file's lines are read on the driver
   * through Hadoop's `FileSystem`, so any URI Spark reads works, and
   * parsed as the bundled catalog is ([[phecodeParse]]).
   */
  def phecodeDefs(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    phecodeParse(spark, p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p))
  }

  /**
   * The bundled public PheCode catalog (phecode_definitions v1.2, the
   * same public data the reference redistributes and auto-joins on
   * `--phewas`/`--flipwas` — constants.py:6-16). Shipped as a
   * classpath resource so annotation works with no user-supplied
   * file; `--phecode-defs` stays available as an override.
   */
  def bundledPhecodeDefs(spark: SparkSession): DataFrame = {
    val in = getClass.getResourceAsStream("/graft/phecode_definitions1.2.csv")
    require(in != null, "bundled phecode_definitions1.2.csv missing from classpath")
    phecodeParse(spark, in)
  }

  /** One parse for both catalogs: the ~1.9k lines of `in` are read on
    * the driver and handed to the CSV reader as an in-memory Dataset
    * (full quoting semantics, no temp file, one job fewer than a path
    * scan, which first runs a job for the header). All columns load as
    * strings — `phecode` MUST stay string ("008" ≠ "8",
    * schema_overrides in the reference) and the rest are labels. The
    * frame is dimension-sized; every join against it broadcasts. */
  private def phecodeParse(spark: SparkSession, in: InputStream): DataFrame = {
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    import spark.implicits._
    spark.read.option("header", "true").option("inferSchema", "false")
      .csv(spark.createDataset(lines))
      .select("phecode", "phenotype", "sex", "category", "category_number")
  }

  /**
   * Bucketed table writer — the co-location path for repeated large
   * joins/aggregations on the same key (the 100 TB pattern: pay the
   * shuffle ONCE at write time, then every downstream join on the
   * bucket key is exchange-free). Buckets are hash(key) mod n and each
   * bucket is sorted, so a sort-merge join over two tables bucketed
   * the same way needs neither Exchange nor Sort — verified by the
   * bucketing spec against the physical plan.
   */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    val sc = if (sortCols.isEmpty) Seq(key) else sortCols
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(sc.head, sc.tail: _*)
      .saveAsTable(table)
  }

  /**
   * Hive-style partitioned parquet writer — the layout path for
   * columns queries FILTER on (language, date, split): each partition
   * value becomes a directory, so a reader's `WHERE lang = 'en'`
   * prunes to that directory at PLANNING time (PartitionFilters in
   * the scan, verified by the spec) and a 100 TB corpus scan touches
   * only the selected partitions' files. Choose low-cardinality
   * columns: every distinct value is a directory, and a
   * high-cardinality partition key shatters the table into millions
   * of small files (use `writeBucketed` for join keys instead).
   */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "writePartitioned: no partition columns")
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** A delimited file with a header row. Spark's csv source takes ONE
    * `nullValue`, and its inference would read any further marker as
    * data (a `-9` in a numeric column is the number −9, an `NA` makes
    * the column a string). So one pass over the file as strings nulls
    * every marker, runs Spark's own CSV inference on what is left and
    * notes the columns that hold a marker after the first. The file is
    * then read with the inferred types; a column that held such a
    * marker is read as strings, nulled and cast. */
  private def delimited(spark: SparkSession, path: String, delim: String,
      nullValues: Seq[String]): DataFrame = {
    val options = Map("header" -> "true", "delimiter" -> delim) ++
      nullValues.headOption.map("nullValue" -> _)
    val raw = spark.read.options(options).csv(path)
    val names = raw.columns
    val n = names.length
    val rest = nullValues.drop(1).toSet
    val inference = new CSVInferSchema(new CSVOptions(options + ("inferSchema" -> "true"),
      true, spark.conf.get("spark.sql.session.timeZone")))
    type Seen = (Array[DataType], Array[Boolean])
    val merge = (a: Seen, b: Seen) =>
      (inference.mergeRowTypes(a._1, b._1), a._2.zip(b._2).map(m => m._1 || m._2))
    val (types, marked) = raw.queryExecution.toRdd.mapPartitions { rows =>
      var types = Array.fill[DataType](n)(NullType)
      val marked = new Array[Boolean](n)
      val tokens = new Array[String](n)
      rows.foreach { r =>
        var i = 0
        while (i < n) {
          tokens(i) = if (r.isNullAt(i)) null else r.getUTF8String(i).toString
          if (tokens(i) != null && rest(tokens(i))) { marked(i) = true; tokens(i) = null }
          i += 1
        }
        types = inference.inferRowType(types, tokens)
      }
      Iterator.single((types, marked))
    }.treeAggregate((Array.fill[DataType](n)(NullType), new Array[Boolean](n)))(merge, merge)
    val fields = inference.toStructFields(types, names)
    val typed = spark.read.options(options).schema(StructType(fields.zip(marked).map {
      case (f, m) => if (m) f.copy(dataType = StringType) else f
    })).csv(path)
    if (!marked.contains(true)) typed
    else typed.select(fields.zip(marked).toIndexedSeq.map { case (f, m) =>
      if (!m) column(f.name)
      else when(column(f.name).isin(rest.toSeq: _*), lit(null)).otherwise(column(f.name))
        .cast(f.dataType).as(f.name)
    }: _*)
  }
}
