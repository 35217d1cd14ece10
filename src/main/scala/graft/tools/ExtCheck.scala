package graft.tools

import graft.LocalSession

/** Dev check: the `spark.sql.extensions=graft.GraftExtensions` config path
  * (reflective, builder-time) registers the SQL functions in a fresh JVM. */
object ExtCheck {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(2, Map("spark.sql.extensions" -> "graft.GraftExtensions"))
    val d = spark.sql("SELECT float_vector_dot(array(1.0F, 2.0F), array(3.0F, 4.0F))").head().getDouble(0)
    val k = spark.sql("SELECT size(minhash_signature(array(1L, 2L, 3L), 16))").head().getInt(0)
    println(s"[extcheck] dot=$d sig_len=$k ${if (d == 11.0 && k == 16) "OK" else "MISMATCH"}")
    spark.stop()
  }
}
