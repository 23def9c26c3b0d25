package graft

/** GraftExtensions registers the native functions at session build time;
  * the shared test session is built with it ([[Session.builder]]). */
class ExtensionsSpec extends SparkSpec {

  test("a session built with GraftExtensions resolves the functions") {
    val r = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                vec_dot_int(array(1, 2), array(3, 4)) AS di,
                str_hamming('1010', '1001') AS h,
                length(simhash64(array('alpha', 'beta'))) AS s,
                length(sign_bits(array(1.0D, -2.0D), 6)) AS b,
                size(winnow_fps('the quick brown fox', 3, 2)) > 0 AS w,
                element_at(bpe_split('ab', 'a b ab'), 1) AS t""").head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getLong(1) == 11L)
    assert(r.getInt(2) == 2)
    assert(r.getInt(3) == 64)
    assert(r.getInt(4) == 6)
    assert(r.getBoolean(5))
    assert(r.getString(6) == "ab")
  }
}
