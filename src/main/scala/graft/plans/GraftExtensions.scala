package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Optimizer rule: rewrite `transform(arr, x -> x.field)` to the native
  * `GetArrayStructFields` extraction.
  *
  * Catalyst's SchemaPruning cannot see through higher-order-function
  * lambdas, so a ragged-leaf projection written with `transform` forces the
  * parquet scan to read the ENTIRE inner struct (every leaf of every
  * element) even though only one field is used — at 100 TB that is the
  * difference between scanning one column chunk and scanning them all.
  * After this rewrite the expression is a plain extraction, SchemaPruning
  * recognizes it, and the pruned schema reaches the scan (verified in
  * ModulesSpec against FileSourceScanExec.requiredSchema). Semantics are
  * identical, including null elements mapping to null fields.
  *
  * The reference solves the same problem with its typetracer column-report
  * pass (`lib/inspect.py:21-115`, `unproject_layout.py`); here the planner
  * already owns projection analysis, this rule just restores its
  * visibility. Installed via SparkSessionExtensions (injectOptimizerRule
  * runs with the operator-optimization batch, before Early Scan Push-Down
  * where SchemaPruning lives). The rule is a pure optimization: sessions
  * without it produce identical results, just wider scans.
  */
object TransformFieldPruning extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case t @ ArrayTransform(input,
        LambdaFunction(GetStructField(v: NamedLambdaVariable, ord, _),
          Seq(v2: NamedLambdaVariable), _))
        if input.resolved && (v.exprId == v2.exprId) =>
      input.dataType match {
        case ArrayType(st: StructType, containsNull) =>
          GetArrayStructFields(input, st(ord), ord, st.length,
            containsNull || st(ord).nullable)
        case _ => t
      }
  }
}

/** Optimizer rule: the GENERAL form of [[TransformFieldPruning]] — prune
  * unused struct fields out of higher-order-function lambdas whose element
  * variable is used only through field accesses.
  *
  * `transform(items, x -> x.p * x.q)`, `aggregate(items, 0, (a, x) ->
  * a + x.q)`, `exists/forall(items, x -> x.q > k)` all leave the lambda
  * variable opaque to Catalyst's SchemaPruning, so the parquet scan reads
  * EVERY leaf of the element struct (measured: a 3-field struct with an
  * unused string column stays in ReadSchema). When the lambda body touches
  * a strict subset of the fields, this rule narrows the HOF's array input
  * to `arrays_zip(items.p, items.q)` — native `GetArrayStructFields`
  * extractions that SchemaPruning DOES see — and remaps the body's field
  * ordinals onto the zipped struct. First-level pruning only (a deeper
  * `x.q.z` access keeps the whole `q` subtree), and never on HOFs that
  * return the original elements (`filter`, `sort`: their OUTPUT is the
  * full struct, pruning the input would change results).
  *
  * Null semantics are preserved: a null ARRAY propagates null through
  * both shapes; a null ELEMENT makes every pruned-field access null,
  * exactly what the original per-field access on a null struct returned —
  * the element variable itself never escapes a field access (that case
  * disqualifies the rewrite), so struct(null,null) vs null is
  * unobservable. Fixed point: after the rewrite every field of the zipped
  * struct is used, so the rule cannot re-fire. */
object LambdaFieldPruning extends Rule[LogicalPlan] {
  import org.apache.spark.sql.types.DataType

  /** Ordinals of `lv` used under GetStructField; None if lv escapes a
    * bare field access (whole-element use: isnull(x), struct ops, ...). */
  private def usedOrds(body: Expression,
      lv: NamedLambdaVariable): Option[Set[Int]] = {
    var ok = true
    val ords = scala.collection.mutable.Set[Int]()
    def visit(e: Expression): Unit = e match {
      case GetStructField(v: NamedLambdaVariable, ord, _)
          if v.exprId == lv.exprId => ords += ord
      case v: NamedLambdaVariable if v.exprId == lv.exprId => ok = false
      case other => other.children.foreach(visit)
    }
    visit(body)
    if (ok) Some(ords.toSet) else None
  }

  /** Rewrite (input, fn) to (zipped input, remapped fn) when profitable. */
  private def pruned(input: Expression, fn: LambdaFunction,
      elemIdx: Int): Option[(Expression, LambdaFunction)] = {
    if (!input.resolved || !fn.resolved) return None
    input.dataType match {
      case ArrayType(st: StructType, cn) =>
        val lv = fn.arguments(elemIdx) match {
          case v: NamedLambdaVariable => v
          case _ => return None
        }
        usedOrds(fn.function, lv) match {
          case Some(ords) if ords.nonEmpty && ords.size < st.length =>
            val sorted = ords.toSeq.sorted
            val remap = sorted.zipWithIndex.toMap
            val zipped = ArraysZip(
              sorted.map(o => GetArrayStructFields(input, st(o), o,
                st.length, cn || st(o).nullable)),
              sorted.map(o => Literal(st(o).name): Expression))
            // the variable's element type must be EXACTLY the zip's
            // element type (field nullability included) or downstream
            // resolution checks disagree
            val elemT = zipped.dataType.asInstanceOf[ArrayType]
              .elementType.asInstanceOf[DataType]
            val lv2 = lv.copy(dataType = elemT)
            val newBody = fn.function.transform {
              case GetStructField(v: NamedLambdaVariable, ord, name)
                  if v.exprId == lv.exprId =>
                GetStructField(lv2, remap(ord), name)
            }
            Some((zipped,
              fn.copy(function = newBody,
                arguments = fn.arguments.updated(elemIdx, lv2))))
          case _ => None
        }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case t @ ArrayTransform(arg, fn: LambdaFunction) =>
      pruned(arg, fn, 0).map { case (z, f) => t.copy(argument = z, function = f) }
        .getOrElse(t)
    case e @ ArrayExists(arg, fn: LambdaFunction, _) =>
      pruned(arg, fn, 0).map { case (z, f) => e.copy(argument = z, function = f) }
        .getOrElse(e)
    case a @ ArrayForAll(arg, fn: LambdaFunction) =>
      pruned(arg, fn, 0).map { case (z, f) => a.copy(argument = z, function = f) }
        .getOrElse(a)
    case g @ ArrayAggregate(arg, _, merge: LambdaFunction, _) =>
      // the element variable is the SECOND argument of the merge lambda;
      // zero/finish bind only the accumulator and stay untouched
      pruned(arg, merge, 1).map { case (z, f) => g.copy(argument = z, merge = f) }
        .getOrElse(g)
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions`, or
  * `withExtensions(new GraftExtensions)` on a session builder; graft's own
  * sessions get it from [[graft.core.SessionConfigs.local]].
  *
  * Installs the optimizer rule and registers the custom expression kernels
  * as SQL functions, so the pure-SQL surface reaches them too:
  * graft_minhash(shingles, k), graft_simhash48(tokens),
  * graft_word_ngrams(tokens, n), graft_cosine(a, b),
  * graft_combinations(arr, n), graft_polyhash(s),
  * graft_winnow(tokens, k, w), graft_minhash_poly(shingles, k). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal int argument, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => TransformFieldPruning)
    ext.injectOptimizerRule(_ => LambdaFieldPruning)
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    ext.injectPlannerStrategy(session => new AsofJoinStrategy(session))
    def reg(name: String)(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    reg("graft_minhash") { args =>
      graft.functions.HashExprs.MinHashSignature(args.head,
        if (args.size > 1) intArg(args(1), "graft_minhash") else 32, 42L)
    }
    reg("graft_simhash48")(args =>
      graft.functions.HashExprs.SimHash48(args.head))
    reg("graft_word_ngrams") { args =>
      graft.functions.HashExprs.WordNgrams(args.head,
        intArg(args(1), "graft_word_ngrams"))
    }
    reg("graft_cosine")(args =>
      graft.functions.VectorExprs.CosineSim(args.head, args(1)))
    reg("graft_combinations") { args =>
      graft.functions.CombinatoricsExprs.Combinations(args.head,
        intArg(args(1), "graft_combinations"), replacement = false)
    }
    reg("graft_polyhash")(args =>
      graft.functions.HashExprs.PolyHash(args.head))
    reg("graft_winnow") { args =>
      graft.functions.HashExprs.WinnowFingerprint(args.head,
        intArg(args(1), "graft_winnow"), intArg(args(2), "graft_winnow"))
    }
    reg("graft_minhash_poly") { args =>
      graft.functions.HashExprs.MinHashSignaturePolyBase(args.head,
        if (args.size > 1) intArg(args(1), "graft_minhash_poly") else 32, 42L)
    }
  }
}
