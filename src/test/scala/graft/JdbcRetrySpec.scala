package graft

import java.sql.{BatchUpdateException, SQLException}

import org.scalatest.funsuite.AnyFunSuite
import graft.load.JdbcSink

/** The chunk writer retries only transaction-rollback errors (SQLState
  * class 40), found anywhere in the next-exception chain; a permanent
  * error fails at once instead of replaying its chunk.
  */
class JdbcRetrySpec extends AnyFunSuite {

  private def err(state: String) = new SQLException("x", state)

  private def batch(next: SQLException*): BatchUpdateException = {
    val b = new BatchUpdateException("batch", null, Array.emptyIntArray)
    next.foldLeft(b: SQLException) { (prev, e) => prev.setNextException(e); e }
    b
  }

  test("deadlocks, lock timeouts and serialization failures are retried") {
    Seq("40001", "40XL1", "40XL2", "40P01").foreach { s =>
      assert(JdbcSink.transient(err(s)), s)
    }
  }

  test("permanent errors and a missing SQLState are not retried") {
    Seq("22001", "42X05", "42P01", "23505", "08006", "XJ001", null).foreach { s =>
      assert(!JdbcSink.transient(err(s)), String.valueOf(s))
    }
  }

  test("a batch failure is judged by its next-exception chain") {
    assert(JdbcSink.transient(batch(err("40001"))))
    assert(JdbcSink.transient(batch(err("22001"), err("40XL1"))))
    assert(!JdbcSink.transient(batch(err("22001"))))
    assert(!JdbcSink.transient(batch()))
  }
}
