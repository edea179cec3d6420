"""Pure-Python reference of the ``exprlit`` vector math, for the tests.

IEEE-exact: each fold multiplies and adds in the order the SQL folds do,
starting from ``0.0``, and Java's ``Math.sqrt`` and Python's ``math.sqrt``
are both correctly rounded, so a Spark result must equal the reference
bit for bit.
"""

import math
import struct


def bits(x):
    """Bit pattern of a double; every NaN compares equal (the payload of
    a NaN produced by arithmetic is not specified)."""
    if x is None:
        return None
    if math.isnan(x):
        return "nan"
    return struct.pack("<d", x)


def ref_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def ref_norm(a):
    acc = 0.0
    for x in a:
        acc = acc + x * x
    return math.sqrt(acc)


def ref_divide(num, den):
    """try_divide on doubles: NULL for a zero divisor, IEEE otherwise."""
    return None if den == 0 else num / den


def ref_not_nan(x):
    return None if x is None or math.isnan(x) else x


def ref_cosine(a, b):
    if a is None or b is None:
        return None
    return ref_not_nan(ref_divide(ref_dot(a, b), ref_norm(a) * ref_norm(b)))


def ref_sqdist(a, b):
    if a is None or b is None:
        return None
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def ref_topk(scored, k):
    """(id, score) ranked like ``orderBy(desc(score), id)``: NULL last."""
    ranked = sorted(
        scored, key=lambda r: (r[1] is None, -(r[1] or 0.0), r[0])
    )
    return ranked[:k]
