package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.connect.ParquetConnector
import graft.ops._
import graft.streaming.StreamingExtractStage

/** Config binding from the stage case classes ([[Binder]]): defaults come
  * from the constructor, errors still accumulate with line numbers, and
  * the keys a stage accepts are the keys its factory reads.
  */
class BinderSpec extends AnyFunSuite {

  private val conns = Map("default" -> new ParquetConnector("/nonexistent"))

  private def parse(conf: String) = Parser.parse(conf, conns)

  private def stageOf(body: String): Stage =
    parse(s"stages = [{ $body }]") match {
      case Right(p) => p.stages.head.stage
      case Left(errs) => fail(s"'$body' did not parse: ${errs.mkString("; ")}")
    }

  /** The factories written out by hand; every other registered type binds
    * from its case class.
    */
  private val handWritten = Set("Extract", "Load", "SqlTransform", "Execute",
    "TypingTransform", "ZorderTransform", "Snapshot", "StreamingLoad")

  /** Per bound type: a config with only its required keys (plus the keys
    * its check demands at the default method) and the same stage built
    * with only those arguments, so every other field takes the
    * constructor's default on both sides.
    */
  private val minimal: Seq[(String, String, Stage)] = Seq(
    ("DedupTransform", "", DedupTransformStage("s", "i", "o")),
    ("SimilarityTransform", "", SimilarityTransformStage("s", "i", "o")),
    ("AsofJoinTransform", "rightView = r, keys = [k]",
      AsofJoinTransformStage("s", "i", "r", "o", keys = Seq("k"))),
    ("SaltedJoinTransform", "rightView = r, keys = [k]",
      SaltedJoinTransformStage("s", "i", "r", "o", keys = Seq("k"))),
    ("RangeJoinTransform", "rightView = r, leftTime = t, startCol = a, endCol = b",
      RangeJoinTransformStage("s", "i", "r", "o", "t", "a", "b")),
    ("ContaminationTransform", "evalView = e",
      ContaminationTransformStage("s", "i", "e", "o")),
    ("ProfileTransform", "", ProfileTransformStage("s", "i", "o")),
    ("RetrievalTransform", "", RetrievalTransformStage("s", "i", "o")),
    ("PiiTransform", "", PiiTransformStage("s", "i", "o")),
    ("ClassifyTransform", "", ClassifyTransformStage("s", "i", "o")),
    ("GraphTransform", "", GraphTransformStage("s", "i", "o")),
    ("BehaviorTransform", "steps = [a, b]",
      BehaviorTransformStage("s", "i", "o", steps = Seq("a", "b"))),
    ("DataQualityTransform", "rules { b = \"x > 0\", a = \"y > 0\" }",
      DataQualityTransformStage("s", "i", "o",
        rules = Seq("a" -> "y > 0", "b" -> "x > 0"))),
    ("DriftTransform", "rightView = r",
      DriftTransformStage("s", "i", "r", "o")),
    ("AggStateTransform", "keys = [k], sumCols = [v]",
      AggStateTransformStage("s", "i", "o", keys = Seq("k"), sumCols = Seq("v"))),
    ("BloomJoinTransform", "rightView = r, leftKey = a, rightKey = b",
      BloomJoinTransformStage("s", "i", "r", "o", "a", "b")),
    ("CompactFiles", "inputDir = d, outputDir = e",
      CompactFilesStage("s", "d", "e", "o")),
    ("SampleTransform", "", SampleTransformStage("s", "i", "o")),
    ("TextAnalysisTransform", "", TextAnalysisTransformStage("s", "i", "o")),
    ("AssembleTransform", "groupCol = g, orderCols = [t], payloadCol = p",
      AssembleTransformStage("s", "i", "o", "g", Seq("t"), "p")),
    ("EncodeTransform", "", EncodeTransformStage("s", "i", "o")),
    ("SketchTransform", "keyCol = k, groupCols = [g]",
      SketchTransformStage("s", "i", "o", keyCol = "k", groupCols = Seq("g"))),
    ("MultimodalTransform", "", MultimodalTransformStage("s", "i", "o")),
    ("UrlTransform", "", UrlTransformStage("s", "i", "o")),
    ("CdcTransform", "changesView = c",
      CdcTransformStage("s", "i", "o", changesView = Some("c"))),
    ("GapfillTransform", "keyCol = k",
      GapfillTransformStage("s", "i", "o", keyCol = "k")),
    ("StreamingExtract", "inputDir = d", StreamingExtractStage("s", "d", "o")))

  test("every bound type's config defaults are its constructor defaults") {
    assert(minimal.map(_._1).toSet == Parser.defaultRegistry.keySet -- handWritten)
    minimal.foreach { case (tpe, extra, expected) =>
      val views = if (tpe == "CompactFiles" || tpe == "StreamingExtract") ""
        else "inputView = i, "
      val got = stageOf(s"type = $tpe, name = s, ${views}outputView = o, $extra")
      assert(got == expected, s"$tpe: parsed $got, constructed $expected")
    }
  }

  test("binding errors accumulate in one pass, each with its line") {
    val conf = """stages = [
                 |  { type = GraphTransform, name = g
                 |    outputView = o
                 |    iters = three
                 |    method = pagerankk
                 |    zzBogus = 1 }
                 |]""".stripMargin
    val Left(errs) = parse(conf): @unchecked
    def at(key: String) = errs.find(_.key == s"stages[0].$key")
      .getOrElse(fail(s"no $key error in $errs")).message
    assert(at("iters").startsWith("line 4: expected integer, got three"))
    assert(at("method").startsWith("line 5: invalid value 'pagerankk'"))
    assert(at("zzBogus").startsWith("line 6: unknown option; expected one of "))
    assert(at("zzBogus").contains(" iters,") && at("zzBogus").contains(" connection,"))
    assert(at("inputView") == "line 2: missing required option")
    assert(errs.size == 4, errs.mkString("; "))
  }

  test("keys read only on some paths are still accepted on every path") {
    val execute = stageOf("""type = Execute, name = x, sql = "SELECT 1",
      authentication { token = t }""")
    assert(execute.asInstanceOf[ExecuteStage].sql == "SELECT 1")
    // an inline schema wins, and the URI is never read
    val typing = stageOf("""type = TypingTransform, name = t, inputView = i,
      outputView = o, schema = "[]", schemaURI = "file:/nonexistent.json"""")
    assert(typing.asInstanceOf[TypingTransformStage].schemaJson == "[]")
    // a targeted delete ignores the curve columns
    val zorder = stageOf("""type = ZorderTransform, name = z, inputView = i,
      outputView = o, idCol = id, method = delete, outputDir = d, xCol = x""")
    assert(zorder.asInstanceOf[ZorderTransformStage].cols.isEmpty)
  }

  test("a constructor parameter with no config getter fails when bound") {
    val e = intercept[IllegalArgumentException](Binder.bind[UnbindableStage]())
    assert(e.getMessage.contains("Unbindable.sizes"), e.getMessage)
  }
}

final case class UnbindableStage(name: String, sizes: Seq[Int]) extends Stage {
  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = None
}
