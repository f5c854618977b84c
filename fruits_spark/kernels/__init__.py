"""Pure-NumPy kernel library (no Spark dependency).

Everything the Spark layer executes inside Arrow UDFs lives here so it
can be unit-tested against the reference semantics without a JVM.
"""

from . import codec, iss, prep, segments, sieve  # noqa: F401
