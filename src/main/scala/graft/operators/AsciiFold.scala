package graft.operators

/** ASCII case-fold tables and the DuckDB text normalization built on them,
  * shared by [[TextQueries]] and [[WebCurationQueries]]. A leaf: it refers
  * to neither, so neither object needs the other while it initializes. The
  * two once did (each `oracle` map read a constant of the other), and a
  * concurrent first touch of both deadlocked in their initializers. */
private[operators] object AsciiFold {
  val Lower = "abcdefghijklmnopqrstuvwxyz"
  val Upper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

  /** DuckDB twin of [[WebCurationQueries.normalizeText]] over the SQL
    * expression `c`: ASCII case-fold, strip punctuation, collapse spaces. */
  def normalizeSql(c: String): String =
    s"trim(regexp_replace(regexp_replace(translate($c, '$Upper', '$Lower'), " +
      "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
}
