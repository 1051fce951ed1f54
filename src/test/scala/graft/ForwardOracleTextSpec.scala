package graft

import java.security.MessageDigest
import graft.serve._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the generated DuckDB oracle text of each served model family by
  * its SHA-256. The five texts are built from shared block emitters, so a
  * change to one emitter can silently rewrite several oracles; any change
  * to a model's oracle text has to update its digest here on purpose.
  */
class ForwardOracleTextSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val pinned = Seq(
    "LstmForward" -> (() => LstmForward.oracleSql,
      "ad608f580d5b0e0adbcc50fe57e34957066b31ed54221cfd7cb82bf9261b50a7"),
    "CnnLstmForward" -> (() => CnnLstmForward.oracleSql,
      "8a5023c34d3252563c01e148e1622bcc54b79b2349328be03f44662ca2b3b39d"),
    "AttentionLstmForward" -> (() => AttentionLstmForward.oracleSql,
      "2a12156e417a02eca7ed3affe389b2874f273579b33d24404bfae72956da528c"),
    "CnnLstmAttentionForward" -> (() => CnnLstmAttentionForward.oracleSql,
      "a76ed3bc322468b8bd02d2eba7de16f92df8312637b73ac01f04e9cf5117f560"),
    "OptimizedLstmForward" -> (() => OptimizedLstmForward.oracleSql,
      "d4b5c13ccc50ee37561355f8bd3d5fbb6b3ee11342ec80506ef7edd5569ffe1f"))

  for ((model, (sql, digest)) <- pinned)
    test(s"$model oracle text matches its pinned digest") {
      assert(sha256(sql()) == digest)
    }
}
