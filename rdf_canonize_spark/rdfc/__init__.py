"""Pure-Python RDFC-1.0 canonicalization core (no Spark dependency).

This package is the kernel executed per document inside the Spark
``mapInArrow`` canonicalization stage, and is also
usable standalone as a drop-in equivalent of the reference
digitalbazaar/rdf-canonize API.
"""

from .api import canonize
from .canonize import (
    RDFC10,
    CanonizeTimeoutError,
    MaxDeepIterationsError,
    MessageDigest,
)
from .issuer import IdentifierIssuer
from .nquads import NQuadsParseError, parse, serialize, serialize_quad
from .permuter import Permuter

__all__ = [
    "canonize",
    "RDFC10",
    "CanonizeTimeoutError",
    "MaxDeepIterationsError",
    "MessageDigest",
    "IdentifierIssuer",
    "NQuadsParseError",
    "parse",
    "serialize",
    "serialize_quad",
    "Permuter",
]
