package graft

/** Compiled kernels: static methods on objects, each called from a
  * column by one [[graft.functions]] builder through Spark's generic
  * `StaticInvoke` (one direct call in generated code, reflection when
  * interpreted, NULL in → NULL out, implicit argument casts).
  *
  * A hand-written Catalyst class is kept only where `StaticInvoke`
  * would cost or lose something:
  *  - cheap hash kernels (`PolyHashNative`, `SimHashNative`,
  *    `SimHashWideNative`, `NgramHashSet`, `NgramHashSeq`,
  *    `PolyGramHashSeq`, `TokenCountNative`): `StaticInvoke` stores
  *    each argument in a class field on every row, which shows on a
  *    kernel this cheap: over 3M cached strings on a 4-core host, 12
  *    alternating pairs, PolyHash's median rose 8% (slower in 9 of 12
  *    pairs); NgramHashSet and SimHash stayed within the run-to-run
  *    spread; sums bit-identical;
  *  - inline-loop kernels (`DotProductFloat`, `IntersectCountSortedLong`,
  *    `MaxEqualRunLongs`, `NearestCentroidCell`) emit their loop into
  *    the generated code instead of calling out;
  *  - reference-object kernels (`MarkerCounts`, `BpeEncode`,
  *    `PqEncode`): an `ObjectType` literal compares by reference, so
  *    two identical calls would stop being `semanticEquals` and lose
  *    common-subexpression and cache matching;
  *  - the three sketch aggregates, which are not scalar calls.
  */
package object expressions
