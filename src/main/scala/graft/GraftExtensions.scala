package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point
  * (`spark.sql.extensions=graft.GraftExtensions`): installs the
  * engine's Catalyst extensions into any SparkSession — currently the
  * [[graft.plans.ConeJoinRewrite]] optimizer rule turning declarative
  * `cone_contains`/`rect_contains` theta joins into sky-cell
  * equi-joins (`ConeJoin.bandJoin` applies the same rewrite without
  * it). Custom scalar
  * kernels (minhash/simhash/cosine/n-grams) need no registration;
  * they are plain Column functions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectOptimizerRule { session =>
      new graft.plans.ConeJoinRewrite(session)
    }
  }
}
