"""COVT columnar tile codec — pure numpy kernels + gen-A wire format.

Kernel inventory (SURVEY.md §2.8): varint (K1), zigzag (K2), delta (K3),
ORC-style int RLE v1 (K4), byte RLE (K5), boolean bitset (K6), float32 LE
(K7), UTF-8 strings (K8), Morton (K11), Hilbert (K12).
"""

from cov_tiles_spark.covt.varint import (
    encode_varints,
    decode_varints,
    zigzag_encode,
    zigzag_decode,
)
from cov_tiles_spark.covt.rle import (
    encode_int_rle,
    decode_int_rle,
    encode_byte_rle,
    decode_byte_rle,
)
from cov_tiles_spark.covt.bitset import pack_bitset, unpack_bitset
from cov_tiles_spark.covt.sfc import (
    morton_encode,
    morton_decode,
    hilbert_encode,
    hilbert_decode,
)
