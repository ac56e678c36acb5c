package graft.engine

/** Process-lifetime memo: the value for a key is built at most once per
  * JVM and served to every later caller. The one memo primitive behind
  * [[Derived]] and the [[graft.sim.Similarity]] quantizer registry.
  *
  * Each key owns a slot whose build runs under the SLOT's own lazy-val
  * lock, never under the ConcurrentHashMap bin lock: concurrent
  * first-touch of the SAME key still serializes (must not double-build),
  * but other keys sharing the hash bin proceed, and a build that itself
  * consults a memo (nested derivations) cannot hit computeIfAbsent's
  * "recursive update" IllegalStateException. A failed build leaves the
  * lazy val uninitialized, so the next caller retries rather than
  * caching the failure. */
final class Memo[V] {
  private final class Slot(build: () => V) { lazy val value: V = build() }

  private val slots = new java.util.concurrent.ConcurrentHashMap[String, Slot]()

  def apply(key: String)(build: => V): V =
    slots.computeIfAbsent(key, _ => new Slot(() => build)).value

  /** Forget every entry; the next caller of a key rebuilds it. */
  def clear(): Unit = slots.clear()
}
