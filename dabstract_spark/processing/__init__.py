"""Processing chains: dabstract's per-example UDF-pipeline framework
re-expressed as one fused Spark expression per chain.

Reference: dabstract ``dataprocessor/processing_chain.py`` and
``processors/processors.py``. Here a Processor is evaluated at
plan-compile time and has one definition: native stages (Scaler,
Logarithm, Windowing, Aggregation, Normalizer, Framing, ExpandDims, and
sparse Filterbank / short FIRFilter) are SQL text parsed once and
whole-stage-codegen'd with zero Python; Arrow-batched pandas UDFs build
a Column only where Spark has no primitive (FFT, Resample, dense
Filterbank, long FIRFilter). The reference's per-example ``info``
side-channel becomes a static metadata dict threaded through the chain
at compile time (SURVEY §1.1: metadata as columns/statics).
"""

from dabstract_spark.processing.chain import ProcessingChain
from dabstract_spark.processing.processors import (
    PROCESSORS,
    Aggregation,
    Dummy,
    ExpandDims,
    ExternalProcessor,
    FFT,
    Filterbank,
    FIRFilter,
    Framing,
    Logarithm,
    Normalizer,
    Processor,
    Resample,
    Scaler,
    Windowing,
    resolve,
)

__all__ = [
    "ProcessingChain",
    "Processor",
    "ExternalProcessor",
    "PROCESSORS",
    "resolve",
    "Scaler",
    "Normalizer",
    "Logarithm",
    "Windowing",
    "ExpandDims",
    "Aggregation",
    "Framing",
    "FFT",
    "Filterbank",
    "FIRFilter",
    "Resample",
    "Dummy",
]
