package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pins that the custom expressions' doGenCode paths (a) actually compile —
  * Spark silently falls back to interpreted eval on Janino errors, so a
  * green functional test alone can hide a broken codegen path — and (b)
  * produce bit-identical results to the interpreted eval.
  *
  * Run A: whole-stage off + NO_CODEGEN factory = fully interpreted.
  * Run B: whole-stage on + CODEGEN_ONLY + fallback=false = codegen or die.
  *
  * The columns must pin every expression declared in graft.functions, so
  * a kernel added without a pin fails here.
  */
class CodegenPinSpec extends SparkSuite with CompiledLocalFrames {
  import spark.implicits._
  import graft.functions._

  private def withConfs(confs: (String, String)*)(body: => Array[org.apache.spark.sql.Row]) = {
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private lazy val df = Seq(
    (1L, "the quick brown fox jumps over the lazy dog the quick",
      Seq(0.1f, 0.2f, -0.3f, 0.4f), Seq(1.0f, 0.0f, 1.0f, 0.0f),
      Seq(Some(false), None), Seq(1, 2)),
    (2L, "a a a b", Seq(0.0f, 0.0f, 0.0f, 0.0f), Seq(0.5f, 0.5f, 0.5f, 0.5f),
      Seq(Some(false), Some(true)), Seq(4)),
    (3L, "", Seq(2.0f, -1.0f, 0.0f, 3.0f), Seq(0.0f, 1.0f, 0.0f, -1.0f),
      Seq.empty[Option[Boolean]], Seq(0, 1, 3)))
    .toDF("id", "text", "vec", "vec2", "flags", "counts")

  private lazy val cols: Seq[Column] = {
    val toks = split($"text", " ")
    val sig = HashExprs.minHashSignature(HashExprs.wordNgrams(toks, 2), 16)
    val pqFlat = Array(0.1, 0.2, 0.9, 0.8, -0.5, 0.5, 0.3, -0.3)
    // tiny asof table: key 1 has states at ts 5 and 10, key 2 none before 0
    val asofRight = Seq((1L, 5L, 1.5), (1L, 10L, 2.5), (2L, 100L, 9.9))
      .toDF("k", "t", "v")
    Seq(
      AsofLookup.asofLookup(asofRight, "k", "t", "v")($"id", lit(7L)),
      // string keys, a nearest pick and the whole payload struct
      AsofLookup.lookupColumn(AsofLookup.table(
          asofRight.withColumn("k", $"k".cast("string")), "k", "t", Seq("v", "t"), "nearest"),
        $"id".cast("string"), $"id" * 4),
      // link ranking over a broadcast table: ids 1 and 2 share the center
      // 5 in a directed list with a duplicate edge; id 3 is absent
      LinkRank.rankColumn(LinkRank.table(
          Seq((1L, 5L), (2L, 5L), (2L, 5L), (5L, 1L), (5L, 2L), (1L, 2L)).toDF("src", "dst"),
          symmetric = false), $"id", 2, 0),
      // a null shingle: xxhash64 hashes it to the seed in both modes
      HashExprs.minHashSignature(array(lit("a"), when($"id" > 1, lit("x")), lit("b")), 4),
      HashExprs.wordNgrams(toks, 2),
      HashExprs.wordNgramsSeq(toks, 2),
      HashExprs.simHash48(toks),
      HashExprs.minHashSignaturePoly(HashExprs.wordNgrams(toks, 2), 8),
      HashExprs.polyHashFast($"text"),
      HashExprs.winnowFingerprint(toks, 2, 3),
      HashExprs.lshBandKeys(sig, 4, 4),
      CombinatoricsExprs.combinationsN(toks, 3),
      VectorExprs.hyperplaneSig($"vec", 4, 8),
      VectorExprs.cosineSim($"vec", $"vec2"),
      PqExprs.pqEncode($"vec", pqFlat, m = 2, ksub = 2, dsub = 2),
      PqExprs.pqTables($"vec", pqFlat, m = 2, ksub = 2, dsub = 2),
      PqExprs.dotNormLeft($"vec", $"vec2"),
      PqExprs.pqAdcScore(
        PqExprs.pqTables($"vec", pqFlat, m = 2, ksub = 2, dsub = 2),
        PqExprs.pqEncode($"vec2", pqFlat, m = 2, ksub = 2, dsub = 2),
        m = 2, ksub = 2),
      ReducerExprs.argExtremum($"vec", smaller = true),
      ReducerExprs.argExtremum($"vec", smaller = false),
      ReducerExprs.reduce($"vec", ReducerExprs.Var, 1),
      ReducerExprs.count($"vec", nonzero = true),
      ReducerExprs.truth($"flags", any = true),
      ReducerExprs.softmax($"vec"),
      StructureExprs.localIndex($"vec"),
      StructureExprs.argsort($"vec"),
      StructureExprs.fillNone(StructureExprs.padNone($"vec", 6, clip = true), lit(-1.0f)),
      StructureExprs.cartesian($"flags", $"counts", "f", "c"),
      StructureExprs.unflatten($"vec", $"counts"),
      UnicodeExprs.unicodeNormalize(concat($"text", lit("e\u0301")), "NFC"),
      BpeExprs.bpeCount(toks, Seq(("t", "h"), ("th", "e"), ("q", "u"))),
      StringSimExprs.jaroWinklerSim($"text", reverse($"text")),
      StringSimExprs.jaroWinklerSim($"text", lit("the quick brown dog")),
      // null children: a null-intolerant kernel is null without being called
      StringSimExprs.jaroWinklerSim($"text", when($"id" > 1, $"text")),
      VectorExprs.cosineSim(when($"id" =!= 2, $"vec"), $"vec2"),
      QuantileExprs.doubleSortableBits($"vec".getItem(2).cast("double")),
      QuantileExprs.doubleSortableBits(lit(Double.NaN)),
      QuantileExprs.doubleSortableBits(lit(-0.0)),
      QuantileExprs.sortableBucket(
        QuantileExprs.doubleSortableBits($"vec".getItem(0).cast("double")),
        Long.MinValue + 3, 52) // wraparound distance, unsigned shift
    ).zipWithIndex.map { case (c, i) => c.as(s"c$i") }
  }

  test("custom expression codegen compiles and matches interpreted eval") {
    val interpreted = withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      df.orderBy($"id").select(cols: _*).collect()
    }
    val generated = withConfs(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false") {
      df.orderBy($"id").select(cols: _*).collect()
    }
    assert(interpreted.length == generated.length)
    interpreted.zip(generated).zipWithIndex.foreach { case ((a, b), r) =>
      assert(a == b, s"row $r: interpreted $a != generated $b")
    }
  }

  test("the pins cover every expression declared in graft.functions") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    val loader = getClass.getClassLoader
    val dir = new java.io.File(loader.getResource("graft/functions").toURI)
    val declared = dir.list().toSeq.filter(_.endsWith(".class"))
      .map(f => Class.forName("graft.functions." + f.stripSuffix(".class"), false, loader))
      .filter(c => classOf[Expression].isAssignableFrom(c) &&
        !java.lang.reflect.Modifier.isAbstract(c.getModifiers))
      .map(_.getName).toSet
    assert(declared.size >= 31, declared)
    val pinned = df.orderBy($"id").select(cols: _*).queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case e => e.getClass.getName })).toSet
    val missing = declared -- pinned
    assert(missing.isEmpty, s"expressions without a codegen pin: $missing")
  }
}
