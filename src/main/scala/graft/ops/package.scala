package graft

package object ops {

  /** The exact 128-bit integer type that moment and cross-product sums
    * ride in Spark: cast each factor to it BEFORE multiplying, so a
    * product past int64 stays exact. The oracle SQL spells its own
    * `DECIMAL(38,0)` or `HUGEINT`. */
  private[ops] val dec = "decimal(38,0)"
}
