package graft

import graft.sources.DeltaTable

/** The reference's literal serving interface is a Spark Connect
  * endpoint (`sc://localhost:50051` — reference
  * `verify_complete_setup.py:145-166`, `README.md`): clients speak
  * gRPC, the server executes against the lake. Every round until now
  * this was the one reference capability with no repo counterpart
  * (documented transport non-goal). This spec closes it with a REAL
  * wire round-trip using only what ships in `/opt/spark/jars`:
  *
  *  - server: the bundled `SparkConnectService` started against the
  *    test session's SparkContext (which carries
  *    `spark.sql.extensions=graft.GraftExtensions`, so Connect
  *    sessions inherit the graft parser/rules);
  *  - client: the SAME jar's generated gRPC stubs
  *    (`SparkConnectServiceGrpc.newBlockingStub`) over the shaded
  *    channel builder — a genuine out-of-session client path, not a
  *    test shortcut through the live SparkSession;
  *  - result: the response's Arrow IPC batches decoded with the
  *    stock arrow-vector reader.
  *
  * The query exercises the graft surface through the wire: a
  * `delta.`/path`` SELECT (parser-substituted relation) including a
  * time-traveled read. The python grpc client the reference uses is
  * absent from this sandbox (no grpcio, zero egress) — the JVM wire
  * client is the same protocol one hop lower.
  */
class SparkConnectSpec extends SparkSpec {
  import spark.implicits._

  test("Spark Connect: a gRPC wire client executes graft-delta SQL " +
      "end-to-end (sc://localhost, arrow results, time travel)") {
    import org.apache.spark.connect.proto._
    import org.apache.spark.sql.connect.service.SparkConnectService

    val t = tempDir("graft-connect-spec").resolve("t").toString
    DeltaTable.write(Seq((1, "Alice", 75000L), (2, "Bob", 65000L),
      (3, "Carol", 80000L)).toDF("id", "name", "salary"),
      t, "overwrite")                                            // v0
    DeltaTable.write(Seq((4, "Dave", 90000L))
      .toDF("id", "name", "salary"), t, "append")                // v1

    spark.conf.set("spark.connect.grpc.binding.port", "15917")
    SparkConnectService.start(spark.sparkContext)
    try {
      // bind address as the service reports it (the conf above is
      // advisory — the service reads the context conf, so it may have
      // bound its default 15002). private[connect] in Scala, public in
      // bytecode — plain Java reflection reads it.
      val port = SparkConnectService.getClass
        .getMethod("bindingAddress").invoke(SparkConnectService)
        .asInstanceOf[java.net.InetSocketAddress].getPort
      val ch = org.sparkproject.connect.grpc.ManagedChannelBuilder
        .forAddress("localhost", port).usePlaintext().build()
      try {
        val stub = SparkConnectServiceGrpc.newBlockingStub(ch)
        val sessionId = java.util.UUID.randomUUID().toString

        def runSql(sql: String): Seq[Seq[AnyRef]] = {
          val req = ExecutePlanRequest.newBuilder()
            .setSessionId(sessionId)
            .setUserContext(UserContext.newBuilder().setUserId("graft"))
            .setOperationId(java.util.UUID.randomUUID().toString)
            .setPlan(Plan.newBuilder().setRoot(
              Relation.newBuilder().setSql(
                SQL.newBuilder().setQuery(sql))))
            .build()
          val out = scala.collection.mutable.Buffer[Seq[AnyRef]]()
          val it = stub.executePlan(req)
          while (it.hasNext) {
            val resp = it.next()
            if (resp.hasArrowBatch) {
              val bytes = resp.getArrowBatch.getData.toByteArray
              val alloc = new org.apache.arrow.memory.RootAllocator()
              val rdr = new org.apache.arrow.vector.ipc.ArrowStreamReader(
                new java.io.ByteArrayInputStream(bytes), alloc)
              try {
                while (rdr.loadNextBatch()) {
                  val root = rdr.getVectorSchemaRoot
                  for (i <- 0 until root.getRowCount)
                    out += (0 until root.getFieldVectors.size()).map(c =>
                      root.getVector(c).getObject(i).asInstanceOf[AnyRef])
                }
              } finally { rdr.close(); alloc.close() }
            }
          }
          out.toSeq
        }

        // the reference's canonical flow: SQL over the lake, via the
        // wire — the path-table relation resolves through the graft
        // parser the Connect session inherited
        val rows = runSql(
          s"SELECT id, name FROM delta.`$t` ORDER BY id")
        assert(rows.map(r => (r(0).toString.toInt, r(1).toString)) ===
          Seq((1, "Alice"), (2, "Bob"), (3, "Carol"), (4, "Dave")))
        // aggregates cross the wire too
        val cnt = runSql(s"SELECT COUNT(*) AS n FROM delta.`$t`")
        assert(cnt.head.head.toString.toLong === 4L)
        // SQL time travel over the wire (round 11's parse-time
        // resolution riding the Connect session's parser)
        val v0 = runSql(
          s"SELECT COUNT(*) AS n FROM delta.`$t` VERSION AS OF 0")
        assert(v0.head.head.toString.toLong === 3L)
      } finally {
        ch.shutdownNow()
        ch.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
      }
    } finally {
      SparkConnectService.stop(None, None)
    }
  }
}
