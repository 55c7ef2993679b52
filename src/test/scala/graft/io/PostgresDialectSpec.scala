package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.io.File
import java.nio.file.{Files, Paths}
import scala.sys.process._

/** Executes the engine's PostgreSQL-dialect SQL against a LIVE Postgres
  * server — the dialect the reference actually targets
  * (staging_repository.py:47-66 upserts into Postgres).
  *
  * The sandbox ships Postgres server binaries but no JDBC driver jar (zero
  * egress), so a full Spark-JDBC round trip can't run here; what CAN run —
  * and never had before round 7 — is the exact SQL text the engine emits:
  * [[JdbcTableStore]]'s partition-commit `DELETE ... WHERE col IN (...)` +
  * `INSERT ... SELECT` pair and its snapshot swap, with the same
  * delimited-identifier quoting Spark's JDBC writer produces. Statements
  * are executed via psql over a private unix-socket cluster (initdb'd per
  * suite, run as `nobody` since Postgres refuses root).
  *
  * Cancels (not fails) when the server binaries are unavailable.
  */
class PostgresDialectSpec extends PostgresCluster {

  test("partition commit: DELETE IN + INSERT..SELECT swaps only the named jobs' rows") {
    psql("""CREATE TABLE pstaging ("staging_job_id" INTEGER, "staging_email" VARCHAR(64));
           |INSERT INTO pstaging VALUES (1, 'old1'), (2, 'old2'), (3, 'keep3');
           |CREATE TABLE pstaging_ctmp_x ("staging_job_id" INTEGER, "staging_email" VARCHAR(64));
           |INSERT INTO pstaging_ctmp_x VALUES (1, 'new1'), (2, 'new2')""".stripMargin)
    // The statement pair JdbcTableStore.overwritePartitionsAll emits for a
    // multi-job wave commit (one transaction; quoted identifiers).
    psql("""BEGIN;
           |DELETE FROM pstaging WHERE "staging_job_id" IN (1, 2);
           |INSERT INTO pstaging ("staging_job_id", "staging_email")
           |SELECT "staging_job_id", "staging_email" FROM pstaging_ctmp_x;
           |COMMIT""".stripMargin)
    assert(psql("""SELECT "staging_job_id" || ':' || "staging_email"
                  |FROM pstaging ORDER BY "staging_job_id"""".stripMargin)
      == "1:new1\n2:new2\n3:keep3")
  }

  test("snapshot swap: DELETE all + INSERT..SELECT in one transaction") {
    psql("""CREATE TABLE sjobs ("job_id" INTEGER, "job_status" VARCHAR(32));
           |INSERT INTO sjobs VALUES (1, 'PENDING'), (2, 'PENDING');
           |CREATE TABLE sjobs_otmp_x ("job_id" INTEGER, "job_status" VARCHAR(32));
           |INSERT INTO sjobs_otmp_x VALUES (1, 'COMPLETED'), (2, 'NEEDS_REVIEW')""".stripMargin)
    psql("""BEGIN;
           |DELETE FROM sjobs;
           |INSERT INTO sjobs ("job_id", "job_status")
           |SELECT "job_id", "job_status" FROM sjobs_otmp_x;
           |COMMIT""".stripMargin)
    assert(psql("""SELECT "job_id" || ':' || "job_status" FROM sjobs ORDER BY "job_id"""")
      == "1:COMPLETED\n2:NEEDS_REVIEW")
  }
}
