"""Lowerings of a compiled schema onto Spark execution.

``keywords`` — the one keyword walker: schema → (valid, violations)
               ``Column`` pair, reading values through a node.
``columns``  — the typed node (typed rows; whole-stage codegen).
``variant``  — the variant node (dynamic JSON as Spark 4 VariantType).
``batch``    — the vectorized Arrow batch evaluator (every keyword).

``CompiledSchema`` (engine.py) alone picks among them, per apply key:
typed (``apply_typed`` only), then variant, then batch, one rung down
per ``CannotLower``.
"""
