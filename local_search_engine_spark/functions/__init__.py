from .tokenize import PRESERVE_TERMS, tokenize_py  # noqa: F401
