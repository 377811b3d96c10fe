package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.gen.ChurnDataGen
import graft.stream.Pipelines

/** Runnable single-process medallion demo — the `MainProcess.py:5-30`
  * topology in one JVM: synthetic producer wire → multi-topic bronze
  * routing → four concurrent watermarked silver streams → stream-triggered
  * gold refresh (T10 foreachBatch) → churn scoring. The env has no Kafka
  * broker, so the wire is the Kafka frame (value JSON + topic) over files;
  * every transform is the same code the production Kafka path uses.
  *
  * Usage: sbt "runMain graft.Demo [outDir] [rows]"
  */
object Demo {

  /** The full pipeline against an existing session (spec-callable). */
  def run(spark: SparkSession, out: String, rows: Int): Unit = {
    val now = lit("2024-02-01 00:00:00").cast("timestamp")

    // 1. producer → wire (`MainProcess.py` starts the producer first)
    val batch = ChurnDataGen.generate(rows)
    Seq(
      ("profiles", ChurnDataGen.profilesDF(spark, batch)),
      ("usage", ChurnDataGen.usageDF(spark, batch)),
      ("churn", ChurnDataGen.transactionsDF(spark, batch)),
      ("support", ChurnDataGen.ticketsDF(spark, batch))
    ).foreach { case (entity, df) =>
      df.select(to_json(struct(col("*"))).as("value"),
          lit(Pipelines.Topics(entity)).as("topic"))
        .write.mode("append").json(s"$out/wire")
    }

    // 2. one bronze stream routed by topic; four concurrent silver queries
    //    (the reference's Bronze1+Silver1 topology) plus a K5 console tap
    val wire = spark.readStream.schema("value STRING, topic STRING")
      .json(s"$out/wire")
    val bronze = Pipelines.bronze(wire)
    val console = Pipelines.toConsoleSink(bronze("profiles"), numRows = 5)
      .trigger(Trigger.AvailableNow()).start()
    val silver = Map(
      "customer_profile" -> Pipelines.silverCustomer(bronze("profiles")),
      "app_usage" -> Pipelines.silverAppUsage(bronze("usage")),
      "churn_transactions" -> Pipelines.silverTransactions(bronze("churn")),
      "support_tickets" -> Pipelines.silverSupport(bronze("support")))
    val queries = silver.map { case (name, df) =>
      Pipelines.toParquetSink(df, s"$out/silver/$name", s"$out/ckpt/$name")
        .trigger(Trigger.AvailableNow()).start()
    }
    (queries.toSeq :+ console).foreach(_.awaitTermination())

    // 3. gold refresh driven by the cleansed transaction stream — T10's
    //    foreachBatch hand-off instead of the reference's 60 s sleep loop
    val txnSchema = spark.read.parquet(s"$out/silver/churn_transactions").schema
    val txnStream = spark.readStream.schema(txnSchema)
      .parquet(s"$out/silver/churn_transactions")
    Pipelines.goldForeachBatch(txnStream, spark, s"$out/silver",
        s"$out/gold", s"$out/ckpt/gold", now)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

    // 4. churn scoring over the refreshed gold features
    val gold = spark.read.parquet(s"$out/gold").drop("batch_id")
    val model = ml.ChurnModel.fit(
      gold.withColumn("churned", ml.ChurnModel.weakLabel))
    ml.ChurnModel.score(model, gold)
      .select(col("customer_id"), col("churn_probability"),
        col("churn_prediction"))
      .write.mode("overwrite").parquet(s"$out/scores")

    val goldN = spark.read.parquet(s"$out/gold").count()
    val scoreN = spark.read.parquet(s"$out/scores").count()
    println(s"[demo] wire rows=${rows * 4} gold rows=$goldN scores=$scoreN -> $out")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(
      Files.createTempDirectory("graft_demo_").toString)
    val rows = if (args.length > 1) args(1).toInt else 600
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = Sessions.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("graft-demo")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, out, rows)
    spark.stop()
  }
}
