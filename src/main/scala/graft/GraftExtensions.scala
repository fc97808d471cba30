package graft

import graft.functions.CosineSimilarity
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native expressions with the
  * SQL function registry, so plain SQL can call them:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * spark.sql("SELECT cosine_similarity(embedding, query_vec) ...")
  * }}}
  *
  * [[GraftSession]] sets the conf on every session graft builds.
  *
  * This is the library-grade injection point (SparkSessionExtensions →
  * injectFunction): no session-mutating registration calls in user
  * code, and the function resolves in pure-SQL deployments (thrift
  * server, SQL files) where the Column API is unavailable.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "cosine_similarity(a, b) takes exactly two arguments")
        CosineSimilarity(children.head, children(1))
      }))
  }
}
