package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.GraftFunctions

/** Session-extension entry point: install [[graft.plans.TopKRewriteRule]] and
  * every graft SQL function of [[GraftFunctions.Table]] on every session of a
  * cluster with `spark.sql.extensions=graft.GraftSparkExtensions` (pairs with
  * `spark.sql.catalog.glue=graft.catalog.GlueTableCatalog` for the catalog).
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)
    GraftFunctions.Table.foreach(f => ext.injectFunction((f.id, f.info, f.build)))
  }
}
