"""Pure-Python/numpy metric kernels.

These are the executor-side bodies of the engine's pandas/Arrow UDFs *and*
the single-process oracle used by the pytest suite. No Spark imports here —
everything must be picklable into executor Python workers and runnable
standalone.
"""
