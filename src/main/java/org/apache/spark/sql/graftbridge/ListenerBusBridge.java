package org.apache.spark.sql.graftbridge;

import java.util.concurrent.TimeoutException;

import org.apache.spark.sql.SparkSession;

/**
 * Waits for Spark's asynchronous listener bus. {@code SparkContext.listenerBus}
 * is {@code private[spark]}, which Scala enforces but the JVM does not, so
 * this one accessor is written in Java.
 */
public final class ListenerBusBridge {
  private ListenerBusBridge() {}

  /**
   * Blocks until every event posted so far (query-execution and streaming
   * progress events included) has reached its listeners.
   */
  public static void drain(SparkSession spark) throws TimeoutException {
    spark.sparkContext().listenerBus().waitUntilEmpty();
  }
}
