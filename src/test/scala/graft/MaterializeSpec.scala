package graft

import graft.ops.Materialize
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.storage.StorageLevel

/** `withoutEagerness` is scoped to its session: plan inspection on one
  * session must not turn materialization off for another. */
class MaterializeSpec extends SparkSpec {

  // the status store fills from the listener bus: drain it first
  private def jobsIn(group: String): Int = {
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  test("one session inspects inside withoutEagerness while another's shared persists and counts") {
    val inspector = spark.newSession()
    val server = spark.newSession()
    val inside = new CountDownLatch(1)
    val served = new CountDownLatch(1)
    @volatile var serverFrame: org.apache.spark.sql.DataFrame = null
    @volatile var serverError: Throwable = null
    val t = new Thread(() => {
      try {
        inside.await(30, TimeUnit.SECONDS)
        server.sparkContext.setJobGroup("materialize-server", "server shared")
        serverFrame = Materialize.shared(server, server.range(0, 500).toDF("x"))
      } catch { case e: Throwable => serverError = e }
      finally served.countDown()
    })
    t.start()
    val inspected = Materialize.withoutEagerness(inspector) {
      spark.sparkContext.setJobGroup("materialize-inspector", "inspector shared")
      try {
        assert(!Materialize.eagerEnabled(inspector))
        assert(Materialize.eagerEnabled(server))
        inside.countDown()
        // the server session materializes WHILE this session inspects
        assert(served.await(60, TimeUnit.SECONDS))
        Materialize.shared(inspector, inspector.range(0, 700).toDF("y"))
      } finally spark.sparkContext.clearJobGroup()
    }
    t.join()
    assert(serverError == null, String.valueOf(serverError))
    assert(serverFrame.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(jobsIn("materialize-server") >= 1, "the server's eager count ran no job")
    assert(inspected.storageLevel == StorageLevel.NONE)
    assert(jobsIn("materialize-inspector") == 0, "inspection ran a job")
    assert(Materialize.eagerEnabled(inspector), "eagerness restored on exit")
    Materialize.release(server)
    assert(serverFrame.storageLevel == StorageLevel.NONE)
  }
}
