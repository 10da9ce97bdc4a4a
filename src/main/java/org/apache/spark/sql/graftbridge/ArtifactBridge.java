package org.apache.spark.sql.graftbridge;

import org.apache.spark.sql.SparkSession;

/**
 * Read-only view of a session's {@code ArtifactManager}. Spark 4 keeps the
 * manager {@code private[sql]} and its artifact flag {@code protected}, which
 * Scala enforces but the JVM does not (both compile to public members), so
 * this one accessor is written in Java.
 */
public final class ArtifactBridge {
  private ArtifactBridge() {}

  /**
   * True once the session has added a session-scoped class file or jar
   * ({@code SparkSession.addArtifact}): such classes resolve only through the
   * session's own class loader, so its jobs must keep their artifact
   * isolation.
   */
  public static boolean sessionArtifactAdded(SparkSession spark) {
    return ((org.apache.spark.sql.classic.SparkSession) spark)
        .artifactManager().sessionArtifactAdded().get();
  }
}
