package org.apache.spark

/** Whether `f` is a Scala indylambda: for one of those, Spark's
  * ClosureCleaner reads and parses the class file that declares it on
  * every job that ships it; for a named function class it returns at
  * once. */
object Indylambda {
  def apply(f: AnyRef): Boolean =
    util.IndylambdaScalaClosures.getSerializationProxy(f).isDefined
}
