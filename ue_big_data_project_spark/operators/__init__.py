"""Composite relational operators.

Each module composes public DataFrame primitives into one operator
family. Two belong to the transit system:

- ``asof``       — the as-of join (reference's only join, SURVEY §2.5).
- ``geo``        — haversine k-NN (internalized REST pushdown, SURVEY S5/O3).

The rest are extensions the transit queries never import: ``bloom``,
``bpe``, ``cdc``, ``classify``, ``dedup``, ``graph``, ``interval``,
``multimodal``, ``retrieval``, ``sessions``, ``similarity``, ``sketch``
and ``skew``.
"""
