package graft.functions

import scala.util.Random

import graft.SparkSpec
import graft.npm.{Fixtures, Pipeline}
import graft.npm.model.{docType, MaxArtifactBytes}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `to_json_length(x)` must equal `length(to_json(x))` on every doc the pipeline can hold, under
  * generated code and interpreted, with null fields skipped or written, and route the F2 size cap
  * exactly at its boundary.
  */
class ToJsonLengthSpec extends SparkSpec {

  import spark.implicits._

  // every escape class Jackson writes, DEL, 2-, 3- and 4-byte UTF-8, and JSON's own punctuation
  private val pieces = Seq("a", "Z", "0", " ", "/", ":", ",", "{", "\"", "\\", "\b", "\t", "\n", "\f", "\r",
    "\u0000", "\u0001", "\u001f", "\u007f", "é", "中", "\u2028", "😀")
  private def text(r: Random): String = Seq.fill(r.nextInt(6))(pieces(r.nextInt(pieces.size))).mkString

  /** A value of `t` in which every nullable slot is null one time in four. */
  private def value(t: DataType, r: Random): Any = t match {
    case StringType => text(r)
    case LongType => Seq(Long.MinValue, Long.MaxValue, 0L, -r.nextInt(1000).toLong, r.nextLong())(r.nextInt(5))
    case BooleanType => r.nextBoolean()
    case ArrayType(e, _) => Seq.fill(r.nextInt(4))(orNull(e, r))
    case MapType(_, v, _) => Seq.fill(r.nextInt(4))(text(r) -> orNull(v, r)).toMap
    case s: StructType => Row.fromSeq(s.fields.map(f => orNull(f.dataType, r)))
  }
  private def orNull(t: DataType, r: Random): Any = if (r.nextInt(4) == 0) null else value(t, r)

  /** 400 generated docs, from an RDD so that no projection over them is folded at planning time. */
  private lazy val generated: DataFrame = {
    val r = new Random(12L)
    spark.createDataFrame(spark.sparkContext.parallelize(Seq.fill(400)(Row(value(docType, r))), 2),
      StructType(Seq(StructField("doc", docType))))
  }

  /** The fixture corpus's docs as parsed, and as normalized. */
  private def fixtureDocs: Seq[DataFrame] = {
    val parsed = Pipeline.parse(spark.sparkContext.parallelize(Fixtures.withFetch404, 2).toDF("value"))
    Seq(parsed.select(col("c.doc").as("doc")), Pipeline.normalize(parsed).toDF().select("doc"))
  }

  private def mismatches(docs: DataFrame): Seq[Row] = {
    SemverExpressions.register(spark)
    val both = docs.select(col("doc"), call_function("to_json_length", col("doc")).as("sized"),
      length(to_json(col("doc"))).cast("long").as("written"))
    assert(both.count() > 0)
    both.filter(not(col("sized") <=> col("written"))).collect().toSeq
  }

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (ignoreNull <- Seq("true", "false"); (mode, confs) <- Seq(
      "generated code" -> Seq("spark.sql.codegen.fallback" -> "false"),
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")))
    test(s"to_json_length equals length(to_json): $mode, ignoreNullFields=$ignoreNull") {
      withConf(confs :+ ("spark.sql.jsonGenerator.ignoreNullFields" -> ignoreNull): _*) {
        (generated +: fixtureDocs).foreach(docs => assert(mismatches(docs).isEmpty))
      }
    }

  test("to_json_length fails analysis on a type outside docType's") {
    SemverExpressions.register(spark)
    Seq("named_struct('a', 1)", "named_struct('m', map(1L, 'x'))", "named_struct('d', array(1.5D))", "'doc'")
      .foreach { arg =>
        val e = intercept[AnalysisException](spark.range(1).selectExpr(s"to_json_length($arg)"))
        assert(e.getMessage.contains("to_json_length"), arg)
      }
  }

  test("F2 routes a doc of exactly MaxArtifactBytes JSON chars to the catalog, one more to the DLQ") {
    def line(seq: Int, pad: Int): String =
      s"""{"seq":$seq,"id":"big$seq","doc":{"_id":"big$seq","_rev":"1-a","name":"${"x" * pad}","dist-tags":{"latest":"1.0.0"},"versions":{"1.0.0":{"version":"1.0.0","dist":{"tarball":"http://r/t.tgz","unpackedSize":5,"shasum":"s"}}},"time":{"1.0.0":"2023-01-01T00:00:00.000Z","created":"2023-01-01T00:00:00.000Z","modified":"2023-01-01T00:00:00.000Z"}}}"""
    def written(lines: Seq[String]): Map[Long, Long] =
      Pipeline.normalize(Pipeline.parse(lines.toDF("value"))).toDF()
        .select(col("seq"), length(to_json(col("doc"))).cast("long")).as[(Long, Long)].collect().toMap
    val pad = (MaxArtifactBytes - written(Seq(line(900, 0)))(900L)).toInt
    val lines = Seq(line(901, pad), line(902, pad + 1))
    assert(written(lines) == Map(901L -> MaxArtifactBytes, 902L -> (MaxArtifactBytes + 1)))

    val r = Pipeline.replay(lines.toDF("value"))
    assert(r.catalog.select("change_seq_id").as[Long].collect().toSeq == Seq(901L))
    assert(r.skipped.select("seq", "reason").as[(Long, String)].collect().toSeq == Seq(902L -> "doc_too_large"))
    r.routed.unpersist()
  }
}
