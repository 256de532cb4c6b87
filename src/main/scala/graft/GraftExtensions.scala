package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{HexDecodeUtf8, MinHashSig}

/** SparkSessionExtensions entry point: injects the native as-of-join
  * planner strategy, and the SQL names that SQL text uses
  * (`hex_decode_utf8`, `minhash_sig`), into any session built with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)`). Runtime registration via
  * `HexDecodeUtf8.register` / `MinHashSig.register` /
  * `plans.AsOfJoinNative.ensureStrategy` remains available for
  * sessions the caller doesn't construct (tests, notebooks).
  *
  * Every other native kernel has no SQL name: its `column` builder
  * wraps the Catalyst expression itself (`GraftSqlBridge.column`), so
  * the Column resolves in whichever session's plan it lands in and
  * leaves no function-registry entry behind. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("hex_decode_utf8"),
      new ExpressionInfo(classOf[HexDecodeUtf8].getName, "hex_decode_utf8"),
      (exprs: Seq[Expression]) => HexDecodeUtf8(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => MinHashSig(c)
        case Seq(c, k) => MinHashSig(c,
          k.eval().asInstanceOf[Number].intValue())
        case _ => throw new IllegalArgumentException(
          "minhash_sig(text[, numHashes])")
      }))
  }
}
