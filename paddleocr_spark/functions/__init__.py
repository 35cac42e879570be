"""Arrow-batched Python stages (``mapInArrow``) around the NumPy kernels."""
