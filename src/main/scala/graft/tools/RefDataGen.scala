package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Generates the recorded-literal DuckDB oracle SQL pinned in
 *  `RecordedOracles`: runs each gate query and writes a self-contained
 *  `WITH v(...) AS (VALUES ...) SELECT ...` matching the engine's output
 *  exactly. Covers the self-defined packings (q_s2_cells, q_h3_cells,
 *  q_pages_pipeline, read from `sfDir` and ordered by their first column)
 *  and the q_ref_* gates over the reference's Arrow files, whose pins are
 *  independently cross-checked by scripts/check_refdata.py. Run ONCE per
 *  deliberate change.
 *
 *  Usage: runMain graft.tools.RefDataGen [sfDir] [query...] */
object RefDataGen {

  private val packings = Seq("q_s2_cells", "q_h3_cells", "q_pages_pipeline")

  def valuesSql(df: DataFrame): String = {
    val schema = df.schema
    val cols = schema.fields.map(_.name)
    def lit(v: Any, dt: DataType): String = v match {
      case null => "NULL"
      case s: String => "'" + s.replace("'", "''") + "'"
      case b: Boolean => if (b) "TRUE" else "FALSE"
      case n => n.toString
    }
    def cast(f: StructField): String = f.dataType match {
      case LongType => s"CAST(${f.name} AS BIGINT) AS ${f.name}"
      case IntegerType => s"CAST(${f.name} AS INT) AS ${f.name}"
      case DoubleType => s"CAST(${f.name} AS DOUBLE) AS ${f.name}"
      case _ => f.name
    }
    val rows = df.collect().map { r =>
      "(" + schema.fields.indices.map(i => lit(r.get(i), schema.fields(i).dataType))
        .mkString(", ") + ")"
    }
    s"""WITH v(${cols.mkString(", ")}) AS (VALUES
       |${rows.grouped(3).map(_.mkString(", ")).mkString(",\n")})
       |SELECT ${schema.fields.map(cast).mkString(",\n ").replace("\n ", "\n ")}
       |FROM v""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.toSeq.tail
      else packings ++ Seq("q_ref_cities", "q_ref_nybb", "q_ref_countries", "q_ref_sjoin")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // write UTF-8 files — city names are non-ASCII and console encoding mangles them
    val outDir = java.nio.file.Paths.get("/tmp/refdata_oracle")
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val sql = valuesSql(if (packings.contains(n)) df.orderBy(df.columns.head) else df)
      java.nio.file.Files.write(outDir.resolve(s"$n.sql"),
        sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote $outDir/$n.sql (${sql.length} chars)")
    }
    spark.stop()
  }
}
