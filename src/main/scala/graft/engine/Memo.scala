package graft.engine

/** The engine's one in-JVM memo: at most `capacity` entries, the least
  * recently used out first, shared safely between threads. A compute
  * runs outside the lock, so a slow one (a Spark job) never blocks
  * another key; racing computes of one key both run and the first value
  * stored wins; a compute that throws stores nothing. */
private[graft] final class Memo[K, V](capacity: Int) {
  private val entries =
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        this.size() > capacity
    }

  def get(key: K): Option[V] = entries.synchronized(Option(entries.get(key)))

  def put(key: K, value: V): Unit =
    entries.synchronized { entries.put(key, value) }

  def getOrElseUpdate(key: K)(compute: => V): V = get(key).getOrElse {
    val value = compute
    entries.synchronized {
      Option(entries.putIfAbsent(key, value)).getOrElse(value)
    }
  }

  def size: Int = entries.synchronized(entries.size())
}
