package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** The comparison contract is frozen: every `SparkEntry.oracleSql` string
  * must stay byte-identical, whatever the Spark side of its query does.
  * No SparkSession — the strings are built from query definitions alone. */
class OracleSqlContractSpec extends AnyFunSuite {

  test("every oracle SQL string is byte-identical to the frozen contract") {
    val md = MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      md.update(name.getBytes(UTF_8)); md.update(0.toByte)
      md.update(sql.getBytes(UTF_8)); md.update(0.toByte)
    }
    assert(SparkEntry.oracleSql.size == 87)
    assert(md.digest().map("%02x".format(_)).mkString ==
      "cf5d3e252f406873a2f49c04c66f6ea08979d2ffe470bf51c9b5ecf440c05e57")
  }
}
