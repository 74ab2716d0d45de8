package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Cluster-wide installation of the engine's function surface — the
  * idiomatic deployment on a real cluster:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *
  * injects every st_* / cell_* / text expression into each session's
  * FunctionRegistry at build time (the same seam the reference's fixed
  * operator registry fills at link time — reference:
  * ogr/swq_op_registrar.cpp :: swq_op_registrar::GetOperator). Without it,
  * graft.functions.F.ensureRegistered registers the identical builder list
  * per session: operators and Synth for their own callers,
  * SparkEntry.queries once per query build, and TestSpark once for the
  * tests.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.F.defs.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
  }
}
