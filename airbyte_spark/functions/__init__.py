from .text import canonicalize, canonicalize_pandas, canonicalize_udf  # noqa: F401
from .names import canonicalize_identifier, NameRegistry, resolve_collisions  # noqa: F401
