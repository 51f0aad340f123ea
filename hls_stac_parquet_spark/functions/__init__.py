"""Column-function library.

Everything here returns Spark ``Column`` expressions built from JVM
built-ins whenever possible (whole-stage codegen), with vectorized
pandas UDFs only where a genuine library/algorithm gap exists
(Hilbert curve, MGRS decode).
"""
