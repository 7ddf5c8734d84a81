"""Numpy codec kernels + chunk framing. No Spark imports here."""

from . import bitpack, framing, intcodecs  # noqa: F401
from .framing import Frame, read_frame, read_frames, write_frame  # noqa: F401
from .intcodecs import INT_CODECS  # noqa: F401
