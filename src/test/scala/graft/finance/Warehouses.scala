package graft.finance

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.jdk.CollectionConverters._

/** Small warehouses for the job-graph specs: SimpleFIN raw rows plus a
  * pre-categorized historic seed large enough (60 rows, two categories) for
  * the classifier's 50-sample minimum, so a job that trains really trains. */
object Warehouses {

  /** Raw SimpleFIN rows `t<from>` until `t<until>`: coffee and airline
    * descriptions alternating, dates spread over nine days. */
  def raw(spark: SparkSession, from: Int, until: Int): DataFrame =
    spark.createDataFrame((from until until).map { i =>
      Row(s"t$i", "a1", "Checking", "dom", "Bank",
        new java.math.BigDecimal(s"-${5 + i % 20}.00"), 1700000000L + i,
        "2024-01-01", 1700000000L + i, "2024-01-0" + (1 + i % 9),
        if (i % 2 == 0) s"starbucks coffee $i" else s"united airlines flight $i",
        false, null, "2024-01-02 00:00:00", "2024-01-02")
    }.asJava, Schemas.simplefinRaw)

  /** 60 historic rows, Dining for coffee and Travel for airlines. */
  def historic(spark: SparkSession): DataFrame =
    spark.createDataFrame((0 until 60).map { i =>
      Row("Old Checking", null, s"-${3 + i % 10}.00", s"2019-0${1 + i % 9}-1${i % 9}",
        if (i % 2 == 0) s"starbucks coffee ${i + 100}" else s"united airlines flight ${i + 100}",
        "src", if (i % 2 == 0) "Dining" else "Travel", "01/02/2020")
    }.asJava, Schemas.historicRaw)

  /** A fresh warehouse holding raw rows `t0`..`t62` and the historic seed. */
  def trainable(spark: SparkSession): TableStore = {
    val store = new TableStore(spark, Files.createTempDirectory("graft-wh").toString)
    new Jobs(spark, store).loadRawBatch(raw(spark, 0, 63))
    store.overwrite("historic_transactions", historic(spark))
    store
  }
}
