package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.{BitmapAndCount, FloatDotProduct, Md5HexSlices, Md5Nibbles, RollingHashMin, SortedIntersectCount, WordShingles}

/** Session extensions: the sorted-merge planner strategy, and the
  * engine's custom Catalyst expressions as SQL functions, so
  * `spark.sql` users get them too. No optimizer rule: a merge is
  * Spark's own sort over a union, which Catalyst already optimizes.
  *
  * `GraftSession.builder` installs them; elsewhere use
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def unary(name: String, build: Expression => Expression) = (
    new FunctionIdentifier(name),
    new ExpressionInfo(classOf[GraftExtensions].getName, name),
    (children: Seq[Expression]) => {
      require(children.length == 1, s"$name(x) takes exactly 1 argument")
      build(children.head)
    })

  private def binary(name: String, build: (Expression, Expression) => Expression) = (
    new FunctionIdentifier(name),
    new ExpressionInfo(classOf[GraftExtensions].getName, name),
    (children: Seq[Expression]) => {
      require(children.length == 2, s"$name(a, b) takes exactly 2 arguments")
      build(children.head, children(1))
    })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.SortedMergeUnionStrategy)
    ext.injectFunction(binary("sorted_intersect_count", SortedIntersectCount.apply))
    ext.injectFunction(binary("float_dot", FloatDotProduct.apply))
    ext.injectFunction(binary("bitmap_and_count", BitmapAndCount.apply))
    ext.injectFunction(binary("rolling_hash_min", RollingHashMin.apply))
    ext.injectFunction(binary("word_shingles", WordShingles.apply))
    ext.injectFunction(unary("md5_nibbles", Md5Nibbles.apply))
    ext.injectFunction(unary("md5_hex_slices", Md5HexSlices.apply))
  }
}
