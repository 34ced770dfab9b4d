package graft

package object operators {
  /** The in-process replica of a [[QuantizedMatrixStore]] (int8 codec). */
  type LocalQuantizedMatrixStore = LocalMatrixStore

  /** The in-process replica of a [[BinaryMatrixStore]] (sign-bit codec). */
  type LocalBinaryMatrixStore = LocalMatrixStore
}
