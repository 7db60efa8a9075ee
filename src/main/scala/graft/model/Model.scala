package graft.model

import org.apache.spark.sql.types._

/** Core domain model of the checkout pipeline.
  *
  * Derived from the reference's published event contracts
  * (reference README.md:261-288) and its DB DDL
  * (reference db/init_schema.sql:2-24). The StructTypes are the
  * explicit wire schemas handed to `from_json` — schema inference is
  * never used (SURVEY.md §1.3).
  */
object Model {

  val itemSchema: StructType = StructType(Seq(
    StructField("product_id", StringType),
    StructField("quantity", IntegerType)))

  val orderEventSchema: StructType = StructType(Seq(
    StructField("order_id", StringType),
    StructField("customer_id", StringType),
    StructField("items", ArrayType(itemSchema)),
    StructField("timestamp", StringType)))

  /** ENUM('PENDING','PROCESSED','FAILED') — reference db/init_schema.sql:21.
    * Spark has no enum type; values are validated with `isin` (SURVEY §1.2). */
  val StatusPending = "PENDING"
  val StatusProcessed = "PROCESSED"
  val StatusFailed = "FAILED"
}
