package graft.functions

import org.apache.spark.sql.SparkSession

/** SQL-visible registration of graft's custom functions.
  *
  * The reference exposes its scalar-function surface via DataFusion's
  * registry (reference: datafusion.proto:448-522); everything there maps to a
  * Spark built-in except the handful implemented in this package.
  */
object GraftFunctions {
  def registerAll(spark: SparkSession): Unit = synchronized {
    // idempotent; temp functions are session-scoped
    DateTimeFunctions.register(spark)
    TextFunctions.register(spark)
    VectorFunctions.register(spark)
    HashFunctions.register(spark)
    Udafs.register(spark)
  }
}
