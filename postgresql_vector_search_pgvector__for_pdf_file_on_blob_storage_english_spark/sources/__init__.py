"""Binary/PDF/multimodal ingestion sources and their codecs."""
