"""Composable DataFrame→DataFrame operators.

Each module is a family the reference motivates (completeness gate,
manifest fan-in, failure split) or the 100-TB training-data extension
demands (dedup, similarity search, text quality, multimodal).
"""
