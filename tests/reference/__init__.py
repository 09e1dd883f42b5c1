"""Equality references for production code paths.

``bloom`` and ``simhash`` are independent JVM-expression
implementations of sketches whose production path is a ``mapInArrow``
kernel. ``merge`` resolves a whole series as one block, the sequencing
the chunked and parallel split/merge engines must reproduce. ``label``
is the min-label propagation fixpoint whose ids the per-slice mesh
labelling kernel must reproduce. ``preprocess`` is the staged gridded
preprocessing chain (one Spark operator and shuffle per stage) whose
rows and obj_ids the fused time-block pass must reproduce. Tests
compare production against them on the same input; nothing in
``marex_spark`` imports from here.
"""
