package graft.functions.native

import org.apache.spark.sql.{Column, GraftFrames}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction

/** The native kernels as Columns, built straight from their expression
  * classes: they plan the same in every classic session, whether or not
  * it registered the SQL names of [[graft.GraftExtensions]]. */
object Native {
  private def e(c: Column) = GraftFrames.expression(c)
  private def fn(x: Expression) = GraftFrames.column(x)
  private def agg(f: AggregateFunction) = GraftFrames.column(f.toAggregateExpression())

  def dot(a: Column, b: Column): Column = fn(DotProduct(e(a), e(b)))
  def cosine(a: Column, b: Column): Column = fn(CosineSimilarity(e(a), e(b)))
  def dist2(a: Column, b: Column): Column = fn(SquaredDistance(e(a), e(b)))
  def dist2s(vec: Column, w: Column, lo: Int): Column =
    fn(SquaredDistanceSlice(e(vec), e(w), Literal(lo)))
  def hausdorff(a: Column, b: Column): Column = fn(HausdorffDistance(e(a), e(b)))

  def simHash(h: Column): Column = agg(SimHashAgg(e(h)))
  def bottomK(h: Column, k: Int): Column = agg(BottomKAgg(e(h), Literal(k)))
  def misraGries(key: Column, k: Int): Column = agg(MisraGriesAgg(e(key), Literal(k)))
  def weightedBottomK(p: Column, h: Column, v: Column, w: Column, k: Int): Column =
    agg(WeightedBottomKAgg(e(p), e(h), e(v), e(w), Literal(k)))
}
