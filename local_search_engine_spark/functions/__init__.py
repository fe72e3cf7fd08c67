from .tokenize import (  # noqa: F401
    PRESERVE_TERMS,
    TOKEN_SPLIT_RE,
    tokenize_expr,
    tokenize_py,
)
