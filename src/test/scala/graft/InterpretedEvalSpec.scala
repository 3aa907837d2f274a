package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions._
import graft.pipeline.{ContamGate, PlanUtil}

/** The batch-local session plans interpreted ([[PlanUtil.batchLocalSession]]:
  * whole-stage codegen off, `factoryMode=NO_CODEGEN`), so the index chains
  * run every custom expression's `eval` where the rest of the engine runs
  * its `doGenCode`. The two must agree: `CodegenOnlySpec`'s two wide
  * projections, which cover every codegen'd expression in
  * `graft.functions`, collect to identical rows on the parent session
  * (codegen) and on its batch-local clone (interpreted). */
class InterpretedEvalSpec extends SparkSpec {

  /** `CodegenOnlySpec`'s wide projections, over a `spark.range` leaf (not a
    * local relation, which the optimizer would evaluate at plan time). */
  private def projections(): Seq[DataFrame] = {
    val s = spark
    val dim = 4
    val m = 2
    val ksub = 4
    val coarse = Seq(Seq(0.0, 0.1, 0.2, 0.3), Seq(1.0, 1.1, 1.2, 1.3))
    val pqBooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      IndexedSeq.tabulate(m, ksub, dim / m)((j, c, i) => j + c * 0.1 + i * 0.01)
    val luts = Array(Array.tabulate(m * ksub)(_ * 0.5))
    val merges = Seq(("l", "o"), ("lo", "w"))
    val langModel = new LangModel(2, 5, Array("en", "fr"),
      Array(Array(("th", 1), ("e", 2)), Array(("le", 1), ("e", 2))))
    val gate = new ContamGate(2, Array(123L, 456L).sorted)

    val base = s.range(8).select(
      col("id"),
      concat(lit("the quick brown fox lowers over "),
        col("id").cast("string")).as("text"),
      (col("id") % 2).cast("int").as("cell"),
      (col("id") % 4).cast("int").as("k4"))
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("bin", col("text").cast("binary"))
      .withColumn("vecf", array(
        (col("id") % 3).cast("float"), lit(1.0f),
        col("cell").cast("float"), lit(0.5f)))
      .withColumn("vecd", array(
        (col("id") % 3).cast("double"), lit(1.0),
        col("cell").cast("double"), lit(0.25)))
      .withColumn("codes", array(col("k4"), lit(1).cast("int")))
      .withColumn("starts", array(lit(0).cast("int")))

    val textDf = base.select(
      Murmur2.murmur2(col("text")).as("m2"),
      PhraseFunctions.phraseHits(col("text"), Seq("quick brown")).as("ph"),
      SpanFunctions.spanRemove(col("tokens"), col("starts"), 2).as("span"),
      ContamFunctions.overlapCount(col("text"), gate).as("contam"),
      TextFunctions.fingerprint64(col("text")).as("fp"),
      TextFunctions.jaccardSorted(array_sort(col("tokens")),
        array_sort(col("tokens"))).as("jac"),
      TextFunctions.absentCount(array_sort(col("tokens")),
        array_sort(col("tokens"))).as("absent"),
      TextFunctions.langId(col("text")).as("lid"),
      TextFunctions.simhash64(col("tokens")).as("sh"),
      TextFunctions.charShingles(col("text"), 3).as("cs"),
      TextFunctions.wordShingles(col("text"), 2).as("ws"),
      TextFunctions.nfc(col("text")).as("nfc"),
      TextFunctions.wordNgrams(col("text"), 2).as("wn"),
      TextFunctions.minhashBands(col("tokens"), 8, 2).as("mhb"),
      TextFunctions.minhash(col("tokens"), 8).as("mh"),
      LangProfileFunctions.charNgrams(col("text"), 2).as("cn"),
      LangProfileFunctions.classify(col("text"), langModel).as("lang"),
      DsirFunctions.gramBuckets(col("text"), 64).as("db"),
      DsirFunctions.bucketLogSum(
        array(col("k4")), Array.fill(4)(0.5)).as("bls"),
      BpeFunctions.segment(col("text"), merges, "␟").as("seg"),
      BpeFunctions.chunks(col("text"), merges, "␟", 4).as("chunks"),
      BinaryFunctions.byteSum(col("bin")).as("bs"),
      BloomFunctions.mightContain(new Array[Byte](64), col("text"), 3)
        .as("bloom"),
      SetFunctions.inLongSet(col("id"), Array(1L, 3L, 7L)).as("inset"),
      TextFunctions.edjoinPrefix(col("text"), {
        val m = new java.util.HashMap[String, Long](); m.put("the", 9L); m
      }, 3, 2).as("edp"))

    val vecDf = base.select(
      VectorFunctions.dot(col("vecf"), col("vecf")).as("dot"),
      VectorFunctions.dotD(col("vecd"), col("vecd")).as("dotd"),
      VectorFunctions.cosine(col("vecf"), col("vecf")).as("cos"),
      VectorFunctions.centroidTopN(col("vecd"), coarse, 2).as("topn"),
      VectorFunctions.centroidResidual(col("vecd"), col("cell"), coarse)
        .as("resid"),
      VectorFunctions.centroidArgmin(col("vecd"), coarse).as("argmin"),
      VectorFunctions.srpBucket(col("vecf"), 8).as("srp"),
      VectorFunctions.roundVec6(col("vecd")).as("r6"),
      ZOrderFunctions.zvalue(col("k4"), col("cell"), 8).as("zv"),
      PqFunctions.pqAdc(col("codes"), ksub, luts).as("adc"),
      PqFunctions.ivfPqLut(col("vecd"), col("cell"),
        coarse.map(_.toIndexedSeq).toIndexedSeq, pqBooks).as("lut"),
      PqFunctions.ivfPqAdc(col("codes"), col("cell"), ksub,
        IndexedSeq.tabulate(1, 2)((_, c) =>
          if (c == 0) IndexedSeq.tabulate(m * ksub)(_ * 0.25)
          else IndexedSeq.empty[Double])).as("ivfadc"))
      .withColumn("pair",
        PqFunctions.pqAdcPair(col("lut"), array(lit(0), lit(1)), ksub))

    Seq(textDf, vecDf)
  }

  test("interpreted evaluation returns the codegen rows for every custom expression") {
    val interp = PlanUtil.batchLocalSession(spark)
    assert(interp.conf.get("spark.sql.codegen.wholeStage") == "false")
    assert(interp.conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN")
    assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
    projections().foreach { df =>
      val codegen = df.collect().toSeq
      val (interpreted, js) = JobStats.measure(spark.sparkContext)(
        PlanUtil.onSession(df, interp).collect().toSeq)
      assert(codegen.length == 8)
      assert(interpreted == codegen)
      assert(js.compiles == 0, s"the interpreted collect compiled: $js")
    }
  }
}
