"""Equality references for the production Arrow kernels.

Each module here is an independent JVM-expression implementation of a
sketch whose production path is a ``mapInArrow`` kernel. Tests compare
the kernel against it on the same input; nothing in ``marex_spark``
imports from here.
"""
